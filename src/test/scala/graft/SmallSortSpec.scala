package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

import graft.storage.TxLog

/** [[graft.plans.SmallSortRule]]: a global ORDER BY over a provably
  * small input sorts in one partition, with no range exchange (and so
  * no range-sampling job and no second pass over its input). Every case
  * checks that the rows, in order, equal the same query with the rule
  * off (`autoBroadcastJoinThreshold = -1`).
  */
class SmallSortSpec extends SparkSpec {
  import spark.implicits._

  private val Threshold = "spark.sql.autoBroadcastJoinThreshold"

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_smallsort_$tag").toString + "/tbl"

  /** 12 study rows in shuffled order over three files. */
  private lazy val study: String = {
    val path = freshPath("study")
    TxLog.create(Seq(7, 3, 11, 1, 9, 5, 12, 2, 8, 4, 10, 6)
      .map(i => (i, s"study_$i", Seq("EUR", "EAS", "AFR")(i % 3), 1000L + 37L * i))
      .toDF("id", "name", "ancestry", "n").repartition(3), path)
    path
  }

  /** 4 chromosomes × 25 markers, chr-partitioned. */
  private lazy val markers: String = {
    val path = freshPath("markers")
    TxLog.create((1 to 100).map(i => (s"${1 + i % 4}:${1000 + i}", 1 + i % 4, 1000 + i))
      .toDF("kgp_id", "chr", "pos").repartition(2), path, Some("chr"))
    path
  }

  private def withThreshold[T](v: String)(body: => T): T = {
    val prev = spark.conf.get(Threshold)
    spark.conf.set(Threshold, v)
    try body finally spark.conf.set(Threshold, prev)
  }

  /** Rows, Spark jobs started and the final executed plan of one run. */
  private def run(df: DataFrame): (Seq[Row], Int, String) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val rows = df.collect().toSeq
      Thread.sleep(500) // let the last job-start events drain
      val plan = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan // the final plan, after the run
        case p => p
      }
      (rows, jobs.get(), plan.toString)
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Runs `q` with the session's threshold, checks its rows in order
    * against the rule-off run, returns (jobs, final plan). */
  private def check(q: => DataFrame): (Int, String) = {
    val (rows, jobs, plan) = run(q)
    val want = withThreshold("-1")(q.collect().toSeq)
    assert(rows.nonEmpty)
    assert(rows == want, s"rows differ from the range-sorted run:\n$plan")
    (jobs, plan)
  }

  private def ranged(plan: String) = plan.contains("rangepartitioning")

  test("(a) ORDER BY over a 12-row TxLog table: one job, no range exchange") {
    val (jobs, plan) = check(TxLog.read(spark, study).select("id", "name", "n").orderBy("id"))
    assert(!ranged(plan), plan)
    assert(jobs == 1, s"$jobs jobs:\n$plan")
  }

  test("(b) groupBy(chr).count().orderBy(chr) over a chr-partitioned table: no range exchange") {
    val (jobs, plan) = check(TxLog.read(spark, markers).groupBy("chr").count().orderBy("chr"))
    assert(!ranged(plan), plan)
    // the aggregate's shuffle map stage and the result: 4 with a range sort
    assert(jobs <= 2, s"$jobs jobs:\n$plan")
  }

  test("(c) a sort over an aggregate of a join: AQE drops the range exchange at runtime") {
    val a = (1 to 200).map(i => (i, i % 7)).toDF("k", "g")
    val b = (1 to 200).map(i => (i, i * 2L)).toDF("k", "v")
    val (jobs, plan) = check(a.join(b, "k").groupBy("g").agg(sum("v").as("s")).orderBy("g"))
    assert(!ranged(plan), plan)
    // broadcast, aggregate map stage, result: a range sort adds its
    // sampling job and its own map stage (5 jobs)
    assert(jobs <= 3, s"$jobs jobs:\n$plan")
  }

  test("(d) a sort over an explode or over a join keeps the range exchange") {
    val arr = (1 to 50).map(i => (i, Seq(i, -i, 2 * i))).toDF("k", "xs")
    val (_, exploded) = check(arr.select(col("k"), explode(col("xs")).as("x")).orderBy("x", "k"))
    assert(ranged(exploded), exploded)
    val a = (1 to 200).map(i => (i, i % 7)).toDF("k", "g")
    val b = (1 to 200).map(i => (i, i * 2L)).toDF("k", "v")
    val (_, joined) = check(a.join(b, "k").orderBy("k"))
    assert(ranged(joined), joined)
  }

  test("(e) ORDER BY under LIMIT still plans TakeOrderedAndProject") {
    val t = TxLog.read(spark, study)
    Seq(t.orderBy("id").limit(5), t.orderBy("id").select("name", "id").limit(5)).foreach { df =>
      val (rows, _, plan) = run(df)
      // the top-k keeps its per-partition heaps: nothing funnels into one task
      assert(plan.contains("TakeOrderedAndProject") && !plan.contains("Coalesce"), plan)
      assert(rows.map(_.getAs[Int]("id")) == (1 to 5))
    }
  }

  test("(f) an input above a lowered threshold keeps the range exchange") {
    def q = spark.range(0, 5000).select((-col("id")).as("x"), col("id").cast("string").as("s"))
      .orderBy("x")
    val (_, small) = check(q)
    assert(!ranged(small), small)
    val (_, big) = withThreshold("4096")(check(q))
    assert(ranged(big), big)
  }

  test("an input sized only at runtime keeps its range sort once the exchange has run") {
    // a LogicalRDD has no size at planning, so the range exchange runs;
    // AQE's re-optimization after that stage must not then funnel the
    // range-partitioned rows through one task
    val rows = spark.sparkContext.parallelize((1 to 300).map(i => (i * 7919) % 1000), 3)
    val (_, plan) = check(rows.toDF("k").orderBy("k"))
    assert(ranged(plan) && !plan.contains("Coalesce"), plan)
  }

  test("(g) threshold -1 turns the rule off") {
    withThreshold("-1") {
      val (_, jobs, plan) = run(TxLog.read(spark, study).select("id", "name").orderBy("id"))
      assert(ranged(plan), plan)
      assert(jobs > 1, s"$jobs jobs:\n$plan")
    }
  }
}
