package graft

import org.apache.spark.sql.functions._

import graft.operators.{Checkpoints, Dedup, Graph, Stats, TextOps}

/** [[Checkpoints.cut]] — the one seam for iterative lineage cuts.
  * Default = eager localCheckpoint (executor-resident blocks, the
  * single-node posture); `graft.checkpointDir` set = reliable
  * `checkpoint()` into shared storage, which survives executor loss
  * mid-loop (the 1000-executor posture — r16 verdict's one
  * fault-tolerance soft spot). Pinned here: results are IDENTICAL
  * under both modes for every operator family that cuts lineage
  * (graph iteration, connected components, the BPE merge loop, the
  * q_mad refinement), and the reliable mode actually writes its RDDs
  * under the configured directory. */
class CheckpointSpec extends SparkSpec {
  import spark.implicits._

  private def withReliable[T](body: => T): T = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try body
    finally spark.conf.unset(Checkpoints.DirConf)
  }

  private val edges = Seq(
    (1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L), (5L, 4L))
    .toDF("src", "dst")

  test("reliable mode writes RDD checkpoints under graft.checkpointDir") {
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_w").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      val cut = Checkpoints.cut(Seq(1, 2, 3).toDF("x"))
      assert(cut.count() == 3L)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory)
          Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
        else Seq(f)
      assert(walk(new java.io.File(dir)).nonEmpty,
        s"reliable checkpoint must land files under $dir")
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("repeated cuts reuse one checkpoint dir (idempotent guard is live)") {
    // setCheckpointDir stores a qualified <dir>/<uuid> child, so the
    // old getCheckpointDir.contains(dir) guard was dead code and every
    // cut minted a fresh UUID directory (r17 advice). Pinned: two cuts
    // under one conf value leave exactly ONE uuid child and the
    // context's checkpoint dir does not move between them.
    val dir = java.nio.file.Files
      .createTempDirectory("graft_ckpt_idem").toString
    spark.conf.set(Checkpoints.DirConf, dir)
    try {
      assert(Checkpoints.cut(Seq(1, 2).toDF("x")).count() == 2L)
      val after1 = spark.sparkContext.getCheckpointDir
      assert(Checkpoints.cut(Seq(3, 4, 5).toDF("x")).count() == 3L)
      val after2 = spark.sparkContext.getCheckpointDir
      assert(after1 == after2,
        s"checkpoint dir moved between cuts: $after1 vs $after2")
      val children = Option(new java.io.File(dir).listFiles())
        .getOrElse(Array.empty).filter(_.isDirectory)
      assert(children.length == 1,
        s"expected one uuid child under $dir, got ${children.toSeq}")
    } finally spark.conf.unset(Checkpoints.DirConf)
  }

  test("pagerank ≡ under local and reliable cuts") {
    def run() = Graph.pagerank(edges, iterations = 8)
      .orderBy("node").collect().map(r => (r.getLong(0),
        math.round(r.getDouble(1) * 1e9))).toSeq
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable, s"$local vs $reliable")
  }

  test("connected components ≡ under local and reliable cuts") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    def run() = Dedup.components(pairs)
      .orderBy("doc_id").collect().map(_.toString).toSeq
    // threshold -1 forces the distributed loop (the cutting path): a
    // 3-edge set is well inside the driver-solve bound
    val prevBc = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val (local, reliable) =
      try (run(), withReliable(run()))
      finally prevBc.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    assert(local == reliable, s"$local vs $reliable")
  }

  test("BPE trainer ≡ under local and reliable cuts") {
    val docs = Seq((1L, "aa ab aa ab abab"), (2L, "ab aa abab aa"))
      .toDF("doc_id", "text")
    def run() = TextOps.bpeTrain(docs, numMerges = 6, minPairCount = 1)
      .collect().map(_.toString).toSeq
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable, s"$local vs $reliable")
  }

  test("madOutliers refinement ≡ under local and reliable cuts") {
    val df = (1 to 500).map(i => (s"g${i % 3}", i * 1.7 % 97))
      .toDF("g", "x")
    def run() = Stats.madOutliers(df, "g", "x")
      .orderBy("g").collect().map(_.toString).toSeq
    val local = run()
    val reliable = withReliable(run())
    assert(local == reliable, s"$local vs $reliable")
  }
}
