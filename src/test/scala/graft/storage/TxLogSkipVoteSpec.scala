package graft.storage

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The min/max skip vote is ONE rule: [[TxLog.prunedFiles]] (and so
  * `readBetween` and merge discovery) and the `graft-txlog` planner's
  * driver walk and distributed checkpoint listing must plan the same
  * files for the same range, and none of them may skip a row the query
  * needs. Strings compare in UTF-8 byte order — the order Spark's
  * min/max wrote the bounds in — which disagrees with UTF-16
  * `String.compareTo` between characters above U+FFFF and characters
  * in U+E000–U+FFFF.
  */
class TxLogSkipVoteSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_vote_$tag").toString + "/tbl"

  private val Grin = "\uD83D\uDE00" // U+1F600, UTF-8 F0 9F 98 80
  private val Grin2 = "\uD83D\uDE01" // U+1F601
  private val Repl = "\uFFFD" // UTF-8 EF BF BD: below Grin in byte order
  private val FullA = "\uFF21" // fullwidth A
  private val MaxCp = "\uDBFF\uDFFF" // U+10FFFF

  /** Run `body` with the planner forced onto the distributed checkpoint
    * listing, restoring the previous threshold after. */
  private def distributed[T](body: => T): T = {
    val key = "graft.txlog.distributedIndexThreshold"
    val old = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try body
    finally old match {
      case Some(s) => spark.conf.set(key, s)
      case None => spark.conf.unset(key)
    }
  }

  /** Manifest entries the `graft-txlog` index plans for `df`'s scan:
    * the scan's own pushed filters run through its file index. */
  private def plannedFiles(df: DataFrame): Set[String] = {
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the plan")
    scans.flatMap(s => s.relation.location.listFiles(s.partitionFilters, s.dataFilters))
      .flatMap(_.files.map(_.getPath.toString))
      .map(p => p.substring(p.lastIndexOf("/data/") + "/data/".length)).toSet
  }

  test("string skip stats compare in UTF-8 byte order: no read, range read, format door or merge loses a row") {
    val path = freshPath("utf8")
    // one file per partition: k = U+1F600 in p1, k = "a" in p2
    TxLog.create(Seq((Grin, "p1", 1.0), ("a", "p2", 2.0)).toDF("k", "part", "v")
      .repartition(1), path, Some("part"), statsCols = Seq("k"))
    val plain = spark.read.parquet(s"$path/data").filter(col("k") > Repl).count()
    assert(plain == 1L, "the fixture's reference answer")
    def viaRead = TxLog.read(spark, path).filter(col("k") > Repl).count()
    def viaFormat = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("k") > Repl).count()
    assert(viaRead == 1L, "TxLog.read + filter skipped the U+1F600 file")
    assert(viaFormat == 1L, "the format door skipped the U+1F600 file")
    assert(TxLog.readBetween(spark, path, "k", Repl, MaxCp).count() == 1L,
      "readBetween skipped the U+1F600 file")
    assert(TxLog.prunedFiles(spark, path, "k", Repl, MaxCp).size == 1)
    distributed {
      assert(viaRead == 1L, "the distributed listing skipped the U+1F600 file")
      assert(viaFormat == 1L)
    }
    // merge discovery prunes with the same vote: the existing U+1F600
    // key must be found and updated, never inserted a second time
    TxLog.mergeInto(path, Seq((Grin, "p1", 9.0), (Repl, "p1", 3.0))
      .toDF("k", "part", "v"), Seq("k"))
    val grins = TxLog.read(spark, path).filter(col("k") === Grin)
      .select("v").as[Double].collect().toSeq
    assert(grins == Seq(9.0), s"merge left $grins for the U+1F600 key")
    assert(TxLog.read(spark, path).count() == 3L)
  }

  /** Create a table from `batches`, one file per batch, tracking
    * stats on `c`. */
  private def tableOf(tag: String, batches: Seq[DataFrame], c: String): String = {
    val path = freshPath(tag)
    TxLog.create(batches.head.coalesce(1), path, statsCols = Seq(c))
    batches.tail.foreach(b => TxLog.append(b.coalesce(1), path))
    path
  }

  /** For every range: prunedFiles ≡ the index's plan for
    * `read(t).filter(c between lo and hi)` on the driver walk and the
    * distributed listing, and the read returns what a plain filter
    * over every file returns. At least one range must prune. */
  private def assertParity(path: String, c: String,
                           ranges: Seq[(Any, Any)]): Unit = {
    val all = TxLog.manifest(spark, path,
      TxLog.currentVersion(spark, path).get).files.toSet
    def q(lo: Any, hi: Any) = TxLog.read(spark, path).filter(col(c).between(lit(lo), lit(hi)))
    // the reference: every row, filtered by Spark in memory (no scan to prune)
    val whole = TxLog.read(spark, path)
    val local = spark.createDataFrame(
      java.util.Arrays.asList(whole.collect(): _*), whole.schema)
    val pruned = ranges.map { case (lo, hi) =>
      val byPrunedFiles = TxLog.prunedFiles(spark, path, c, lo, hi).toSet
      assert(plannedFiles(q(lo, hi)) == byPrunedFiles,
        s"driver walk vs prunedFiles differ on $c in [$lo, $hi]")
      assert(distributed(plannedFiles(q(lo, hi))) == byPrunedFiles,
        s"distributed listing vs prunedFiles differ on $c in [$lo, $hi]")
      val want = local.filter(col(c).between(lit(lo), lit(hi))).count()
      assert(q(lo, hi).count() == want, s"pruning lost rows on $c in [$lo, $hi]")
      byPrunedFiles.size < all.size
    }
    assert(pruned.contains(true), s"no range pruned a file on $c — the check is vacuous")
  }

  test("prunedFiles and the graft-txlog planner plan the same files: int, long, decimal, double") {
    val ints = tableOf("int", Seq(1 to 3, 4 to 6, 7 to 9, 10 to 12)
      .map(r => r.map(i => (i.toLong, i)).toDF("k", "c")), "c")
    assertParity(ints, "c", Seq((2, 5), (7, 7), (13, 20), (0, 100)))
    val longs = tableOf("long", Seq(1L to 3L, 4L to 6L, 7L to 9L)
      .map(r => r.map(i => (i, i * 1000000000000L)).toDF("k", "c")), "c")
    assertParity(longs, "c", Seq((2000000000000L, 4000000000000L),
      (9000000000000L, 9000000000000L), (0L, 1L)))
    val decs = tableOf("dec", Seq(Seq("1.50", "2.25"), Seq("3.75", "4.00"),
      Seq("10.10", "12.00")).map(vs => vs.map(v => (1L, BigDecimal(v))).toDF("k", "c")
      .select(col("k"), col("c").cast("decimal(10,2)").as("c"))), "c")
    assertParity(decs, "c", Seq((BigDecimal("2.00"), BigDecimal("3.80")),
      (BigDecimal("11.00"), BigDecimal("11.50")), (BigDecimal("0.00"), BigDecimal("1.49"))))
    // a NaN bound fails open on its own side only; a NaN in a file's
    // values makes its max undecodable, so that file always stays
    val doubles = tableOf("dbl", Seq(Seq(1.0, 2.5), Seq(3.0, 4.5), Seq(6.0, Double.NaN),
      Seq(8.0, 9.0)).map(vs => vs.map(v => (1L, v)).toDF("k", "c")), "c")
    assertParity(doubles, "c", Seq((2.0, 3.5), (Double.NaN, 4.0), (5.0, Double.NaN),
      (7.0, 7.5), (Double.NaN, Double.NaN)))
  }

  test("prunedFiles and the graft-txlog planner plan the same files: strings above U+FFFF, dates") {
    val strs = tableOf("str", Seq(Seq("a", "b"), Seq(Repl, FullA), Seq(Grin, Grin2), Seq("z"))
      .map(vs => vs.map(v => (1L, v)).toDF("k", "c")), "c")
    assertParity(strs, "c", Seq((Repl, MaxCp), ("a", "b"), (Grin, Grin), ("y", Repl),
      (FullA, FullA), ("c", "y")))
    def d(s: String) = java.sql.Date.valueOf(s)
    val dates = tableOf("date", Seq(Seq("2021-01-01", "2021-01-31"),
      Seq("2021-02-01", "2021-02-28"), Seq("2022-06-01"))
      .map(vs => vs.map(v => (1L, d(v))).toDF("k", "c")), "c")
    assertParity(dates, "c", Seq((d("2021-01-15"), d("2021-02-02")),
      (d("2022-01-01"), d("2022-12-31")), (d("2020-01-01"), d("2020-12-31"))))
  }

  test("prunedFiles and the graft-txlog planner plan the same files: us: timestamps, a legacy entry, a renamed column") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val path = tableOf("ts", Seq(Seq("2021-01-01 00:00:00", "2021-01-02 12:00:00"),
      Seq("2021-03-01 00:00:00"), Seq("2021-05-01 00:00:00", "2021-05-02 00:00:00"))
      .map(vs => vs.map(v => (1L, ts(v))).toDF("k", "c")), "c")
    // the first file's bounds rewritten into the pre-v2 shape (a
    // session-tz string, no `us:` prefix): it never votes, the others do
    val v1 = java.nio.file.Paths.get(s"$path/_manifests/v1.json")
    java.nio.file.Files.writeString(v1, java.nio.file.Files.readString(v1)
      .replaceAll("us:-?\\d+", "2021-06-15 00:00:00"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(s"$path/_manifests/.v1.json.crc"))
    TxLog.flushSnapshotCacheForTesting()
    assertParity(path, "c", Seq(
      (ts("2021-02-01 00:00:00"), ts("2021-03-15 00:00:00")),
      (ts("2021-04-01 00:00:00"), ts("2021-12-31 00:00:00")),
      (ts("2022-01-01 00:00:00"), ts("2022-12-31 00:00:00"))))
    // stats stay keyed by the physical name across a rename
    val renamed = tableOf("rename", Seq(1 to 3, 4 to 6, 7 to 9)
      .map(r => r.map(i => (i.toLong, i)).toDF("k", "c")), "c")
    TxLog.renameColumn(spark, renamed, "c", "c2")
    assertParity(renamed, "c2", Seq((2, 4), (9, 9), (10, 20)))
  }
}
