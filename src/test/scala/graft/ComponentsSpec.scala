package graft

import org.apache.spark.sql.DataFrame

import graft.operators.Dedup

/** [[Dedup.components]] has two paths: a driver union-find for pair
  * sets within `spark.sql.autoBroadcastJoinThreshold / 16` edges, and
  * the distributed pointer-jumping loop for everything else (forced
  * here with the threshold at -1). Pinned: both give every id the
  * smallest id of its component, with the same schema, on chains up
  * to diameter 50, stars, disjoint cliques, self-loops, duplicate and
  * reversed edges, Int and Long ids, and the empty set. */
class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  private val ThresholdConf = "spark.sql.autoBroadcastJoinThreshold"

  private def withThreshold[T](v: String)(body: => T): T = {
    val prev = spark.conf.getOption(ThresholdConf)
    spark.conf.set(ThresholdConf, v)
    try body
    finally prev.fold(spark.conf.unset(ThresholdConf))(spark.conf.set(ThresholdConf, _))
  }

  /** Spark jobs started while `body` runs (construction only). */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val out = body
      Thread.sleep(300) // let the job-start events drain
      (out, jobs.get)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private def labels(df: DataFrame): Map[Long, Long] =
    df.collect().map(r =>
      r.getAs[Number](0).longValue -> r.getAs[Number](1).longValue).toMap

  /** Min-id labelling by plain graph search — the answer both paths owe. */
  private def expected(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = edges.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2) }
    val out = scala.collection.mutable.Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { s =>
      if (!out.contains(s)) {
        val comp = scala.collection.mutable.Set(s)
        var frontier = Seq(s)
        while (frontier.nonEmpty) {
          frontier = frontier.flatMap(adj).filter(comp.add)
        }
        comp.foreach(out(_) = comp.min)
      }
    }
    out.toMap
  }

  private def chain(d: Int, offset: Long): Seq[(Long, Long)] = {
    // scrambled ids: the smallest id need not sit at an end
    val ids = (0 to d).map(i => offset + (i * 37L + 50L) % 101L)
    ids.zip(ids.tail)
  }

  private val graphs: Seq[(String, Seq[(Long, Long)])] = Seq(
    "chains of diameter 1..50" ->
      Seq(1, 2, 3, 7, 16, 31, 50).zipWithIndex.flatMap { case (d, i) =>
        chain(d, 1000L * (i + 1)) },
    "stars (center smallest, center largest)" ->
      ((101L to 120L).map(100L -> _) ++ (201L to 220L).map(_ -> 300L)),
    "disjoint cliques" ->
      Seq(10L, 20L, 30L).flatMap { base =>
        for (a <- base until base + 5; b <- a + 1 until base + 5) yield (a, b) },
    "self-loops" -> Seq((7L, 7L), (8L, 8L), (8L, 9L), (5L, 9L)),
    "duplicate and reversed edges" ->
      Seq((1L, 2L), (2L, 1L), (1L, 2L), (4L, 3L), (3L, 4L), (4L, 2L)),
    "empty" -> Seq.empty[(Long, Long)])

  graphs.foreach { case (name, edges) =>
    test(s"driver solve ≡ loop ≡ graph search: $name, Long ids") {
      val pairs = edges.toDF("doc_a", "doc_b")
      val driver = Dedup.components(pairs)
      val loop = withThreshold("-1")(Dedup.components(pairs))
      assert(driver.schema == loop.schema, s"${driver.schema} vs ${loop.schema}")
      val want = expected(edges)
      assert(labels(driver) == want)
      assert(labels(loop) == want)
    }
  }

  test("driver solve ≡ loop: Int ids keep their type") {
    val edges = chain(50, 0L) ++ Seq((200L, 201L), (203L, 201L))
    val pairs = edges.map { case (a, b) => (a.toInt, b.toInt) }.toDF("doc_a", "doc_b")
    val driver = Dedup.components(pairs)
    val loop = withThreshold("-1")(Dedup.components(pairs))
    assert(driver.schema == loop.schema, s"${driver.schema} vs ${loop.schema}")
    assert(driver.schema("component").dataType ==
      org.apache.spark.sql.types.IntegerType)
    assert(labels(driver) == expected(edges))
    assert(labels(loop) == expected(edges))
  }

  test("the bound picks the path: one job within it, the loop above it or at -1") {
    // a pair set computed by Spark (not a local literal the optimizer
    // folds) in one partition, so the limit collect is one job: a
    // 40-node chain with scrambled ids, 39 edges
    val pairs = spark.range(0, 39, 1, 1).selectExpr(
      "(id * 7) % 41 AS doc_a", "((id + 1) * 7) % 41 AS doc_b")
    val want = expected(chain39)
    val (driver, driverJobs) = jobsDuring(Dedup.components(pairs))
    assert(driverJobs == 1, s"driver solve ran $driverJobs jobs")
    // 38 edges of bound (16 bytes each): the 39-edge set is one over it
    val (over, overJobs) = jobsDuring(withThreshold("608")(Dedup.components(pairs)))
    val (forced, forcedJobs) = jobsDuring(withThreshold("-1")(Dedup.components(pairs)))
    assert(overJobs > 2 && forcedJobs > 2,
      s"the loop runs a job per round: $overJobs / $forcedJobs")
    Seq(driver, over, forced).foreach(df => assert(labels(df) == want))
  }

  private def chain39: Seq[(Long, Long)] =
    (0L until 39L).map(i => ((i * 7) % 41, ((i + 1) * 7) % 41))
}
