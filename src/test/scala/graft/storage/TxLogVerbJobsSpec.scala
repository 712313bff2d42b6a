package graft.storage

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Each row-changing TxLog verb runs a bounded number of Spark jobs on
  * one fixed small table: discovery, the DV sidecar write and count,
  * staging, stats and the commit. The bounds are measured counts — a
  * rewrite of the shared discovery, sidecar or merge code must not add
  * a job to any verb. The keyed merges (mergeInto, applyChanges and
  * both mergeWhen modes) run one clause engine, whose validation
  * aggregate also yields the key bounds and whose scratch sets are read
  * back with the schema they were written with.
  */
class TxLogVerbJobsSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_jobs_$tag").toString + "/tbl"

  /** k = 1..8 over partitions p0/p1, one file each, stats on k. */
  private def table(tag: String): String = {
    val path = freshPath(tag)
    TxLog.create((1L to 8L).map(i => (i, s"p${i % 2}", i * 1.0)).toDF("k", "part", "v")
      .repartition(1), path, Some("part"), statsCols = Seq("k"))
    path
  }

  /** Spark jobs `body` starts, counted by one listener. */
  private def jobsOf(body: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      Thread.sleep(500) // let the last job-start events drain
      jobs.get()
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  private val upd = Seq((2L, "p0", 20.0), (100L, "p0", 100.0))

  /** verb → (the job bound, the verb run on a fresh table). */
  private val verbs: Seq[(String, Int, String => Unit)] = Seq(
    ("deleteWhere", 5, p => TxLog.deleteWhere(spark, p, col("k") === 3L)),
    ("deleteWhere(dv)", 3, p =>
      TxLog.deleteWhere(spark, p, col("k") === 3L, deletionVectors = true)),
    ("updateWhere", 5, p =>
      TxLog.updateWhere(spark, p, Seq("v" -> "v + 1"), col("k") === 4L)),
    ("updateWhere(dv)", 7, p => TxLog.updateWhere(spark, p, Seq("v" -> "v + 1"),
      col("k") === 4L, deletionVectors = true)),
    ("replaceWhere", 7, p => TxLog.replaceWhere(
      Seq((1L, "p1", 10.0), (9L, "p1", 9.0)).toDF("k", "part", "v"), p,
      col("part") === "p1")),
    ("mergeInto", 12, p => TxLog.mergeInto(p, upd.toDF("k", "part", "v"), Seq("k"))),
    ("mergeInto(dv)", 13, p => TxLog.mergeInto(p, upd.toDF("k", "part", "v"),
      Seq("k"), deletionVectors = true)),
    ("mergeWhen", 12, p => TxLog.mergeWhen(p, upd.toDF("k", "part", "v"), Seq("k"),
      matched = Seq(TxLog.MergeClause(None, "update", Seq("v" -> "src.v"))),
      notMatched = Seq(TxLog.MergeClause(None, "insert")))),
    ("mergeWhen(dv)", 13, p => TxLog.mergeWhen(p, upd.toDF("k", "part", "v"), Seq("k"),
      matched = Seq(TxLog.MergeClause(None, "update", Seq("v" -> "src.v"))),
      notMatched = Seq(TxLog.MergeClause(None, "insert")),
      deletionVectors = true)),
    ("applyChanges", 12, p => TxLog.applyChanges(p,
      Seq((2L, "p0", 20.0, "update"), (9L, "p1", 9.0, "insert"),
        (3L, "p1", 3.0, "delete")).toDF("k", "part", "v", "_change_type"),
      Seq("k"))),
    ("applyChangeEvents", 13, p => TxLog.applyChangeEvents(p,
      Seq((1L, "p1", 1.0, "delete"), (10L, "p0", 10.0, "insert"))
        .toDF("k", "part", "v", "_change_type"))))

  test("no TxLog verb runs more Spark jobs than its measured bound") {
    val counts = verbs.map { case (name, bound, run) =>
      val path = table(name.replaceAll("\\W", "_"))
      (name, bound, jobsOf(run(path)))
    }
    val report = counts.map { case (n, b, c) => s"$n=$c (bound $b)" }.mkString(", ")
    info(report)
    counts.foreach { case (name, bound, n) =>
      assert(n <= bound, s"$name ran $n Spark jobs, bound $bound — $report")
    }
  }
}
