package graft.storage

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** The batch half of the `graft-txlog` format: `spark.read.format`
  * parity with [[TxLog.read]] (rows, time travel), pushdown reaching
  * the parquet scan (partition pruning, data filters, column pruning),
  * manifest-stats data skipping at PLAN time, SQL `CREATE TABLE ...
  * USING graft-txlog`, and the batch write verbs.
  */
class TxLogBatchSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_batch_$tag").toString + "/tbl"

  private def scansOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }

  test("format reader parity: rows and schema match TxLog.read, versionAsOf time-travels") {
    val path = freshPath("parity")
    val d = Seq((1L, "p1", 1.0), (2L, "p1", 2.0), (3L, "p2", 3.0))
      .toDF("k", "part", "v")
    TxLog.create(d, path, Some("part"))
    TxLog.mergeInto(path, Seq((2L, "p1", 99.0), (4L, "p2", 4.0))
      .toDF("k", "part", "v"), Seq("k"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "part", "v").as[(Long, String, Double)].collect().toSet
    val viaFormat = spark.read.format("graft-txlog").option("path", path).load()
    assert(rows(viaFormat) == rows(TxLog.read(spark, path)))
    assert(viaFormat.columns.toSet == Set("k", "part", "v"))
    // the partition column's declared type survives (string stays string)
    assert(viaFormat.schema("part").dataType ==
      org.apache.spark.sql.types.StringType)
    val v1 = spark.read.format("graft-txlog").option("path", path)
      .option("versionAsOf", "1").load()
    assert(rows(v1) == rows(d))
    // timestampAsOf resolves through the same commit clock
    val ts = TxLog.history(spark, path).filter(col("version") === 1L)
      .head().getTimestamp(7)
    val atTs = spark.read.format("graft-txlog").option("path", path)
      .option("timestampAsOf", ts.toInstant.toString).load()
    assert(rows(atTs) == rows(d))

    // TxLog.read scans the same manifest-backed index as the format
    // door: the two agree in rows and in column names and types across
    // every snapshot shape the index resolves. Only order and
    // nullability differ: TxLog.read restores the declared order (the
    // mount lists partition columns last) and reports every column
    // nullable, as parquet reads do
    def parity(tag: String, p: String): Unit = {
      val viaRead = TxLog.read(spark, p)
      val viaFmt = spark.read.format("graft-txlog").option("path", p).load()
      def shape(df: org.apache.spark.sql.DataFrame) =
        df.schema.fields.map(f => f.name -> f.dataType).toMap
      assert(shape(viaRead) == shape(viaFmt),
        s"$tag: ${viaRead.schema.simpleString} vs ${viaFmt.schema.simpleString}")
      assert(viaRead.columns.toSeq == StructType.fromDDL(TxLog.manifest(spark, p,
        TxLog.currentVersion(spark, p).get).schemaDdl).fieldNames.toSeq, tag)
      val (a, b) = (viaRead.collect().toSet,
        viaFmt.select(viaRead.columns.map(col).toIndexedSeq: _*).collect().toSet)
      assert(a.nonEmpty && a == b, s"$tag: $a vs $b")
    }
    parity("merged", path)
    // shallow clone plus an append: absolute clone refs and relative
    // entries in one snapshot, partition values parsed from both roots
    val cl = freshPath("parity_clone")
    TxLog.clone(spark, path, cl)
    TxLog.append(Seq((5L, "p3", 5.0)).toDF("k", "part", "v"), cl)
    parity("shallow clone", cl)
    assert(TxLog.read(spark, cl).filter(col("part") === "p1").count() == 2)
    // a string partition value that reads as a number keeps its zero
    val zp = freshPath("parity_zero")
    TxLog.create(Seq((1L, "01", 1.0), (2L, "1", 2.0)).toDF("k", "part", "v"),
      zp, Some("part"))
    parity("string partition '01'", zp)
    assert(TxLog.read(spark, zp).filter(col("k") === 1L)
      .select("part").as[String].collect().toSeq == Seq("01"))
    // renamed data and partition columns read back under logical names
    val rn = freshPath("parity_rename")
    TxLog.create(d, rn, Some("part"))
    TxLog.renameColumn(spark, rn, "v", "score")
    TxLog.renameColumn(spark, rn, "part", "grp")
    parity("renamed columns", rn)
    assert(TxLog.read(spark, rn).columns.toSeq == Seq("k", "grp", "score"))
    // bucket(n, c) hidden layout: no partition columns surface
    val bk = freshPath("parity_bucket")
    TxLog.create(d, bk, hiddenPartitions = Seq("bucket(4, k)"))
    parity("bucket(4, k)", bk)
    // deletion vectors under the broadcast budget (DV-aware format) and
    // above it (the anti-join relation, which itself calls TxLog.read)
    val dv = freshPath("parity_dv")
    TxLog.create(spark.range(0, 40).select(col("id").as("k"),
      (col("id") % 4).cast("string").as("part"), (col("id") * 1.0).as("v")),
      dv, Some("part"))
    TxLog.deleteWhere(spark, dv, col("k") % 10 === 0L, deletionVectors = true)
    parity("DV below budget", dv)
    assert(TxLog.read(spark, dv).count() == 36)
    val prev = spark.conf.getOption("graft.txlog.dvBroadcastMaxRows")
    spark.conf.set("graft.txlog.dvBroadcastMaxRows", "0")
    try parity("DV above budget", dv)
    finally prev match {
      case Some(x) => spark.conf.set("graft.txlog.dvBroadcastMaxRows", x)
      case None => spark.conf.unset("graft.txlog.dvBroadcastMaxRows")
    }
    // a filter on TxLog.read's result skips files by the manifest stats
    val st = freshPath("parity_stats")
    TxLog.create(spark.range(0, 100).select(col("id").as("pos")).coalesce(1),
      st, statsCols = Seq("pos"))
    Seq(100L, 200L, 300L).foreach(lo =>
      TxLog.append(spark.range(lo, lo + 100).select(col("id").as("pos"))
        .coalesce(1), st))
    val win = TxLog.read(spark, st).filter(col("pos").between(150L, 249L))
    assert(win.count() == 100)
    val planned = scansOf(win).map(_.selectedPartitions.totalNumberOfFiles).sum
    assert(planned == 2, s"TxLog.read planned $planned of 4 files for a 2-file range")
  }

  test("pushdown reaches the scan: partition pruning, data filters, column pruning") {
    val path = freshPath("pushdown")
    val d = (1 to 40).map(i => (i.toLong, s"p${i % 4}", i * 1.0))
      .toDF("k", "part", "v")
    TxLog.create(d, path, Some("part"))
    val q = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("part") === "p1" && col("v") > 5.0)
      .select("k")
    assert(q.as[Long].collect().toSet ==
      (1 to 40).filter(i => i % 4 == 1 && i > 5).map(_.toLong).toSet)
    val scans = scansOf(q)
    assert(scans.nonEmpty)
    // partition filter evaluated against the manifest dirs at plan time
    val m = TxLog.manifest(spark, path, 1L)
    val p1Files = m.files.count(_.startsWith("part=p1/"))
    assert(scans.map(_.selectedPartitions.totalNumberOfFiles).sum == p1Files,
      "partition pruning did not reach the file index")
    assert(scans.exists(_.partitionFilters.nonEmpty))
    // the data filter pushes into the parquet reader
    assert(scans.exists(_.dataFilters.nonEmpty), "no data filters on the scan")
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"),
      "no pushed filters in the physical plan")
    // column pruning: only the needed columns are read
    assert(scans.head.requiredSchema.fieldNames.toSet.subsetOf(Set("k", "v")),
      s"scan reads ${scans.head.requiredSchema.fieldNames.mkString(",")}")
  }

  test("manifest-stats data skipping: a selective k filter plans only the admitting files") {
    val path = freshPath("skip")
    // four stat-disjoint files via coalesced appends
    TxLog.create(spark.range(0, 100).select(col("id").as("k"),
      lit("a").as("part")).coalesce(1), path, Some("part"), statsCols = Seq("k"))
    Seq(100L, 200L, 300L).foreach(lo =>
      TxLog.append(spark.range(lo, lo + 100).select(col("id").as("k"),
        lit("a").as("part")).coalesce(1), path))
    assert(TxLog.manifest(spark, path, 4L).files.size == 4)
    val q = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("k") === 250L)
    assert(q.count() == 1)
    val planned = scansOf(q).map(_.selectedPartitions.totalNumberOfFiles).sum
    assert(planned == 1,
      s"stats skipping lost: planned $planned of 4 files for a 1-file key")
    // a range predicate prunes too
    val r = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("k") >= 150L && col("k") < 250L)
    assert(r.count() == 100)
    assert(scansOf(r).map(_.selectedPartitions.totalNumberOfFiles).sum == 2)
  }

  test("date/timestamp stats skipping: literals encode like the stats — no silent mis-prune, pruning stays exact") {
    // r9 advice (high): a date literal stringified via its Catalyst
    // internal value ('18629') compares lexicographically against
    // stats written as '2021-01-02' and wrongly prunes EVERY file
    val path = freshPath("datestats")
    def day(s: String) = java.sql.Date.valueOf(s)
    TxLog.create(Seq((1L, day("2021-01-01")), (2L, day("2021-01-02")))
      .toDF("k", "d").coalesce(1), path, statsCols = Seq("d"))
    TxLog.append(Seq((3L, day("2021-02-01")), (4L, day("2021-02-02")))
      .toDF("k", "d").coalesce(1), path)
    val q = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("d") === day("2021-01-02"))
    assert(q.select("k").as[Long].collect().toSet == Set(2L),
      "date-literal stats vote lost rows")
    // and the vote still PRUNES (exactly the one admitting file)
    assert(scansOf(q).map(_.selectedPartitions.totalNumberOfFiles).sum == 1)
    // timestamp range: correct rows, one file planned
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val tpath = freshPath("tsstats")
    TxLog.create(Seq((1L, ts("2021-01-01 00:00:00")), (2L, ts("2021-01-02 12:00:00")))
      .toDF("k", "t").coalesce(1), tpath, statsCols = Seq("t"))
    TxLog.append(Seq((3L, ts("2021-03-01 00:00:00"))).toDF("k", "t").coalesce(1), tpath)
    val tq = spark.read.format("graft-txlog").option("path", tpath).load()
      .filter(col("t") >= ts("2021-02-01 00:00:00"))
    assert(tq.select("k").as[Long].collect().toSet == Set(3L))
    assert(scansOf(tq).map(_.selectedPartitions.totalNumberOfFiles).sum == 1)
  }

  test("timestamp stats are timezone-free: write under one session tz, prune exactly under another") {
    // r10 advice (medium): the old Cast-to-string stats encoding
    // rendered timestamps in the WRITING session's tz while the read
    // side encoded literals under the READING session's tz — a tz
    // change between write and read silently mis-pruned. Stats-v2
    // encodes timestamps as us:-micros, so no zone enters either side.
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val path = freshPath("tzfree")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      TxLog.create(Seq((1L, ts("2021-01-01 00:00:00")), (2L, ts("2021-01-02 12:00:00")))
        .toDF("k", "t").coalesce(1), path, statsCols = Seq("t"))
      TxLog.append(Seq((3L, ts("2021-03-01 00:00:00"))).toDF("k", "t").coalesce(1), path)
      spark.conf.set("spark.sql.session.timeZone", "Asia/Tokyo")
      val q = spark.read.format("graft-txlog").option("path", path).load()
        .filter(col("t") >= ts("2021-02-01 00:00:00"))
      assert(q.select("k").as[Long].collect().toSet == Set(3L),
        "cross-tz read lost rows (stats mis-prune)")
      assert(scansOf(q).map(_.selectedPartitions.totalNumberOfFiles).sum == 1,
        "cross-tz pruning lost (timestamp stats stopped voting)")
      // the sibling skip planner prunes identically, and stays exact
      assert(TxLog.prunedFiles(spark, path, "t",
        ts("2021-02-01 00:00:00"), ts("2021-12-31 00:00:00")).size == 1)
      assert(TxLog.readBetween(spark, path, "t",
        ts("2021-02-01 00:00:00"), ts("2021-12-31 00:00:00"))
        .select("k").as[Long].collect().toSet == Set(3L))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("legacy (pre-v2) timestamp stats entries fail OPEN: kept, never mis-pruned") {
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val path = freshPath("tslegacy")
    TxLog.create(Seq((1L, ts("2021-01-01 00:00:00")), (2L, ts("2021-01-02 12:00:00")))
      .toDF("k", "t").coalesce(1), path, statsCols = Seq("t"))
    TxLog.append(Seq((3L, ts("2021-03-01 00:00:00"))).toDF("k", "t").coalesce(1), path)
    // rewrite the committed us:-micros bounds into the PRE-v2 shape
    // (session-tz strings) — exactly what a table written by an older
    // build carries
    Seq("v1.json", "v2.json").foreach { f =>
      val p = java.nio.file.Paths.get(s"$path/_manifests/$f")
      java.nio.file.Files.writeString(p, java.nio.file.Files.readString(p)
        .replaceAll("us:-?\\d+", "2021-06-15 00:00:00"))
      // the rewrite invalidates Hadoop's checksum sidecar — drop it so
      // the local FS doesn't reject the mutated manifest on read
      java.nio.file.Files.deleteIfExists(
        java.nio.file.Paths.get(s"$path/_manifests/.$f.crc"))
    }
    TxLog.flushSnapshotCacheForTesting()
    // the legacy strings claim every file sits at June 15 — trusting
    // them under the new contract would prune EVERYTHING for a March
    // filter; the vote must abstain instead (all files planned)
    val q = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("t") >= ts("2021-02-01 00:00:00"))
    assert(q.select("k").as[Long].collect().toSet == Set(3L),
      "legacy stats entry voted and lost rows")
    assert(scansOf(q).map(_.selectedPartitions.totalNumberOfFiles).sum == 2,
      "legacy entries must abstain from pruning")
    assert(TxLog.readBetween(spark, path, "t",
      ts("2021-02-01 00:00:00"), ts("2021-12-31 00:00:00"))
      .select("k").as[Long].collect().toSet == Set(3L))
  }

  test("NaN/Infinity stats bounds keep the file instead of failing planning") {
    // r9 advice (low): BigDecimal('NaN') threw at plan time, failing
    // the whole query — a malformed bound must fail OPEN (keep file)
    val path = freshPath("nanstats")
    TxLog.create(Seq((1L, 1.0), (2L, Double.NaN)).toDF("k", "v").coalesce(1),
      path, statsCols = Seq("v"))
    TxLog.append(Seq((3L, 3.0), (4L, Double.PositiveInfinity))
      .toDF("k", "v").coalesce(1), path)
    val q = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("v") > 2.0).select("k")
    // planning didn't throw; NaN sorts above every double in Spark SQL
    assert(q.as[Long].collect().toSet == Set(2L, 3L, 4L))
  }

  test("timestamp partition values round-trip in the session timezone") {
    // r9 advice (medium): the writer formats timestamp partition dirs
    // in the SESSION tz; a hardcoded UTC cast-back shifts every value
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try {
      val path = freshPath("tspart")
      def ts(s: String) = java.sql.Timestamp.valueOf(s)
      val d = Seq((1L, ts("2021-06-01 10:00:00")), (2L, ts("2021-06-02 11:30:00")))
        .toDF("k", "t")
      TxLog.create(d, path, Some("t"))
      val viaFormat = spark.read.format("graft-txlog").option("path", path).load()
      assert(viaFormat.select("k", "t").as[(Long, java.sql.Timestamp)].collect().toSet ==
        Set((1L, ts("2021-06-01 10:00:00")), (2L, ts("2021-06-02 11:30:00"))),
        "timestamp partition values shifted across the relation")
      // partition pruning evaluates against the right instants
      val q = viaFormat.filter(col("t") === ts("2021-06-02 11:30:00"))
      assert(q.count() == 1)
      assert(scansOf(q).map(_.selectedPartitions.totalNumberOfFiles).sum == 1)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("DV-aware batch relation: merge-on-read snapshots mount with deletes applied") {
    val path = freshPath("dv")
    val d = (1 to 40).map(i => (i.toLong, s"p${i % 4}", i * 1.0))
      .toDF("k", "part", "v")
    TxLog.create(d, path, Some("part"))
    // DV delete: rows vanish, files don't
    TxLog.deleteWhere(spark, path, col("k") % 10L === 0L, deletionVectors = true)
    assert(TxLog.manifest(spark, path, 2L).dv.nonEmpty)
    val viaFormat = spark.read.format("graft-txlog").option("path", path).load()
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "part", "v").as[(Long, String, Double)].collect().toSet
    assert(rows(viaFormat) == rows(TxLog.read(spark, path)))
    assert(viaFormat.count() == 36)
    assert(!rows(viaFormat).exists(_._1 % 10 == 0))
    // a DV MERGE (updates via DV + inserts) reads correctly too
    TxLog.mergeInto(path, Seq((1L, "p1", 111.0), (41L, "p1", 41.0))
      .toDF("k", "part", "v"), Seq("k"), deletionVectors = true)
    val afterMerge = spark.read.format("graft-txlog").option("path", path).load()
    assert(rows(afterMerge) == rows(TxLog.read(spark, path)))
    assert(rows(afterMerge).contains((1L, "p1", 111.0)) &&
      rows(afterMerge).contains((41L, "p1", 41.0)))
    // time travel BACK to the DV-delete version still applies ITS DVs
    val v2 = spark.read.format("graft-txlog").option("path", path)
      .option("versionAsOf", "2").load()
    assert(v2.count() == 36 && rows(v2).contains((1L, "p1", 1.0)))
    // ...and v1 (pre-delete) shows everything
    assert(spark.read.format("graft-txlog").option("path", path)
      .option("versionAsOf", "1").load().count() == 40)
  }

  test("DV-aware relation keeps pushdown: partition pruning, data filters, stats skipping") {
    val path = freshPath("dvpush")
    TxLog.create(spark.range(0, 100).select(col("id").as("k"),
      lit("a").as("part")).coalesce(1), path, Some("part"), statsCols = Seq("k"))
    Seq(100L, 200L, 300L).foreach(lo =>
      TxLog.append(spark.range(lo, lo + 100).select(col("id").as("k"),
        lit("a").as("part")).coalesce(1), path))
    TxLog.deleteWhere(spark, path, col("k") === 250L, deletionVectors = true)
    val df = spark.read.format("graft-txlog").option("path", path).load()
    // the deleted row is gone; its neighbors are not
    val q = df.filter(col("k") >= 249L && col("k") <= 251L)
    assert(q.select("k").as[Long].collect().toSet == Set(249L, 251L))
    // manifest-stats skipping still plans only the admitting file
    assert(scansOf(q).map(_.selectedPartitions.totalNumberOfFiles).sum == 1)
    // filters still push into the parquet reader under the DV format
    assert(scansOf(q).exists(_.dataFilters.nonEmpty))
    // aggregates over the DV view are post-delete
    assert(df.count() == 399)
    assert(df.agg(sum("k")).as[Long].head() == (0L until 400L).sum - 250L)
    // compaction materializes; the relation flips back to plain parquet
    TxLog.compact(spark, path)
    val compacted = spark.read.format("graft-txlog").option("path", path).load()
    assert(compacted.count() == 399)
  }

  test("SQL surface: CREATE TABLE ... USING graft-txlog reads back, time travel via option") {
    val path = freshPath("sql")
    TxLog.create(Seq((1L, "a"), (2L, "b")).toDF("k", "v"), path)
    spark.sql("DROP TABLE IF EXISTS graft_batch_tbl")
    spark.sql(
      s"CREATE TABLE graft_batch_tbl USING `graft-txlog` OPTIONS (path '$path')")
    try {
      assert(spark.sql("SELECT sum(k) FROM graft_batch_tbl").head().getLong(0) == 3L)
      // new commits are visible to a fresh query through the same table
      TxLog.append(Seq((10L, "c")).toDF("k", "v"), path)
      spark.sql("REFRESH TABLE graft_batch_tbl")
      assert(spark.sql("SELECT sum(k) FROM graft_batch_tbl").head().getLong(0) == 13L)
    } finally spark.sql("DROP TABLE IF EXISTS graft_batch_tbl")
  }

  test("batch change feed through the format door ≡ TxLog.changes across create→merge→delete") {
    val path = freshPath("cdf")
    TxLog.create(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
      .toDF("k", "part", "v"), path, Some("part"))
    TxLog.mergeInto(path, Seq((2L, "a", 99.0), (4L, "b", 4.0))
      .toDF("k", "part", "v"), Seq("k"))                       // v2
    TxLog.deleteWhere(spark, path, col("k") === 1L)            // v3
    def viaDoor(extra: (String, String)*) = {
      val r = spark.read.format("graft-txlog")
        .option("path", path)
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .option("keys", "k")
      extra.foldLeft(r) { case (b, (k, v)) => b.option(k, v) }.load()
    }
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).toSet
    // endingVersion absent = current head
    assert(rows(viaDoor()) ==
      rows(TxLog.changes(spark, path, 1L, 3L, Seq("k"))),
      "format-door CDF diverged from TxLog.changes at head")
    assert(rows(viaDoor("endingVersion" -> "2")) ==
      rows(TxLog.changes(spark, path, 1L, 2L, Seq("k"))),
      "explicit endingVersion diverged")
    // preimage/postimage splitting rides the same option channel
    assert(rows(viaDoor("withPreimages" -> "true")) ==
      rows(TxLog.changes(spark, path, 1L, 3L, Seq("k"), withPreimages = true)),
      "withPreimages diverged")
    // column pruning through PrunedScan: a two-column select works
    val pruned = viaDoor().select("k", "_change_type")
    assert(pruned.columns.toSeq == Seq("k", "_change_type"))
    assert(pruned.count() == viaDoor().count())
    // timestamp endpoints resolve through the same commit clock
    val ts1 = TxLog.history(spark, path).filter(col("version") === 1L)
      .select("commit_ts").head().getTimestamp(0).toInstant.toString
    val viaTs = spark.read.format("graft-txlog").option("path", path)
      .option("readChangeFeed", "true").option("keys", "k")
      .option("startingTimestamp", ts1).load()
    assert(rows(viaTs) == rows(TxLog.changes(spark, path, 1L, 3L, Seq("k"))),
      "startingTimestamp diverged from the version spelling")
    val eBoth = intercept[IllegalArgumentException] {
      spark.read.format("graft-txlog").option("path", path)
        .option("readChangeFeed", "true").option("keys", "k")
        .option("startingVersion", "1").option("startingTimestamp", ts1).load()
    }
    assert(eBoth.getMessage.contains("not both"), eBoth.getMessage)
    // keys ABSENT routes to the keyless write-time-capture door — this
    // table never declared graft.changeDataFeed, so its MERGE/DELETE
    // commits carry no change record and the read refuses loudly
    val eKeys = intercept[UnsupportedOperationException] {
      spark.read.format("graft-txlog").option("path", path)
        .option("readChangeFeed", "true").option("startingVersion", "1").load()
    }
    assert(eKeys.getMessage.contains("changeDataFeed"), eKeys.getMessage)
    val eFrom = intercept[IllegalArgumentException] {
      spark.read.format("graft-txlog").option("path", path)
        .option("readChangeFeed", "true").option("keys", "k").load()
    }
    assert(eFrom.getMessage.contains("startingVersion"), eFrom.getMessage)
    // a poller caught up to head (startingVersion == defaulted ending)
    // reads an EMPTY feed in the CDF schema — not an exception (r15
    // advice)
    val caughtUp = viaDoor("startingVersion" -> "3")
    assert(caughtUp.columns.toSeq == Seq("k", "part", "v", "_change_type"),
      caughtUp.columns.mkString(", "))
    assert(caughtUp.count() == 0L, "caught-up poller must read empty")
    // a start past the end is a caller bug and says so plainly
    val ePast = intercept[IllegalArgumentException] {
      viaDoor("startingVersion" -> "3", "endingVersion" -> "2")
    }
    assert(ePast.getMessage.contains("past"), ePast.getMessage)
    // maxVersionsPerRead caps the keyed window at from + N: the capped
    // read equals the explicitly-bounded one
    assert(rows(viaDoor("maxVersionsPerRead" -> "1")) ==
      rows(TxLog.changes(spark, path, 1L, 2L, Seq("k"))),
      "maxVersionsPerRead must cap the window at from + N")
  }

  test("batch writes: Append and Overwrite map to the transactional verbs, partitionBy honored") {
    val path = freshPath("write")
    Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("k", "part", "v")
      .write.format("graft-txlog").partitionBy("part")
      .option("path", path).mode("append").save()
    assert(TxLog.currentVersion(spark, path).contains(1L))
    assert(TxLog.manifest(spark, path, 1L).partitionCols == Seq("part"))
    Seq((3L, "p1", 3.0)).toDF("k", "part", "v")
      .write.format("graft-txlog").option("path", path).mode("append").save()
    assert(TxLog.currentVersion(spark, path).contains(2L))
    assert(TxLog.read(spark, path).count() == 3)
    // Overwrite = CREATE OR REPLACE: one commit, history kept
    Seq((9L, "px", 9.0)).toDF("k", "part", "v")
      .write.format("graft-txlog").partitionBy("part")
      .option("path", path).mode("overwrite").save()
    assert(TxLog.currentVersion(spark, path).contains(3L))
    assert(TxLog.read(spark, path).count() == 1)
    assert(TxLog.read(spark, path, Some(2L)).count() == 3, "history lost")
  }

  test("over-budget deletion vectors mount through the distributed anti-join fallback, row-exact") {
    val path = freshPath("dvbig")
    TxLog.create(spark.range(0, 100).select(col("id").as("k"),
      (col("id") % 4).cast("string").as("part"), (col("id") * 1.0).as("v"))
      .coalesce(2), path, Some("part"))
    TxLog.deleteWhere(spark, path, col("k") % 10 === 0L, deletionVectors = true)
    val m = TxLog.manifest(spark, path, TxLog.currentVersion(spark, path).get)
    assert(graft.sources.TxLogBatch.dvRowCount(m) == 10L)
    val prev = spark.conf.getOption("graft.txlog.dvBroadcastMaxRows")
    spark.conf.set("graft.txlog.dvBroadcastMaxRows", "5") // force fallback
    try {
      val q = spark.read.format("graft-txlog").option("path", path).load()
      // the plan IS the join relation (no broadcast map was collected)
      val rels = q.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation
      }
      assert(rels.exists(_.isInstanceOf[graft.sources.TxLogJoinRelation]),
        s"expected the anti-join fallback, got ${rels.map(_.getClass.getName)}")
      // row-exact vs the library read, filters and pruning still exact
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("k", "part", "v").as[(Long, String, Double)].collect().toSet
      assert(rows(q) == rows(TxLog.read(spark, path)))
      assert(q.count() == 90)
      assert(q.filter(col("part") === "1" && col("v") > 5.0)
        .select("k").as[Long].collect().toSet ==
        (0 until 100).filter(i => i % 4 == 1 && i > 5 && i % 10 != 0)
          .map(_.toLong).toSet)
    } finally {
      prev match {
        case Some(v) => spark.conf.set("graft.txlog.dvBroadcastMaxRows", v)
        case None => spark.conf.unset("graft.txlog.dvBroadcastMaxRows")
      }
    }
    // under the default budget the same snapshot mounts columnar-free
    // through the broadcast DV format again
    val back = spark.read.format("graft-txlog").option("path", path).load()
    assert(back.queryExecution.optimizedPlan.collect {
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.relation
    }.exists(_.isInstanceOf[
      org.apache.spark.sql.execution.datasources.HadoopFsRelation]))
    assert(back.count() == 90)
  }

  test("repeated mounts of the same DV snapshot reuse ONE broadcast (no per-mount leak)") {
    val path = freshPath("dvreuse")
    TxLog.create(spark.range(0, 50).select(col("id").as("k"),
      (col("id") * 1.0).as("v")).coalesce(1), path)
    TxLog.deleteWhere(spark, path, col("k") === 7L, deletionVectors = true)
    def bcastIdOf(df: org.apache.spark.sql.DataFrame): Long =
      df.queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation
      }.collectFirst {
        case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
          r.fileFormat.asInstanceOf[graft.sources.TxLogParquetFileFormat]
            .dvBySuffix.id
      }.get
    val a = bcastIdOf(
      spark.read.format("graft-txlog").option("path", path).load())
    val b = bcastIdOf(
      spark.read.format("graft-txlog").option("path", path).load())
    assert(a == b, s"each mount broadcast a fresh DV map: $a vs $b")
    // a NEW version (different DV state) gets its own broadcast
    TxLog.deleteWhere(spark, path, col("k") === 8L, deletionVectors = true)
    val c = bcastIdOf(
      spark.read.format("graft-txlog").option("path", path).load())
    assert(c != a, "distinct snapshots must not share a DV broadcast")
  }

  test("distributed manifest pruning: the checkpoint-job planner plans EXACTLY the driver walk's files") {
    val path = freshPath("dist")
    // 3 partitions × 4 stat-disjoint files, interval checkpoints off so
    // the distributed path exercises the ON-DEMAND checkpoint write
    val prevK = spark.conf.getOption("graft.txlog.checkpointInterval")
    spark.conf.set("graft.txlog.checkpointInterval", "0")
    try {
      TxLog.create(spark.range(0, 90).select(col("id").as("k"),
        (col("id") % 3).cast("string").as("part")).coalesce(1),
        path, Some("part"), statsCols = Seq("k"))
      Seq(100L, 200L, 300L).foreach(lo =>
        TxLog.append(spark.range(lo, lo + 90).select(col("id").as("k"),
          (col("id") % 3).cast("string").as("part")).coalesce(1), path))
    } finally prevK match {
      case Some(v) => spark.conf.set("graft.txlog.checkpointInterval", v)
      case None => spark.conf.unset("graft.txlog.checkpointInterval")
    }
    assert(!new java.io.File(s"$path/_manifests/v4.ckpt").exists,
      "precondition: no interval checkpoint yet")
    def planned(df: org.apache.spark.sql.DataFrame) = {
      val scans = scansOf(df)
      (scans.map(_.selectedPartitions.totalNumberOfFiles).sum,
        df.collect().map(_.toString).sorted.toSeq)
    }
    def query() = {
      val t = spark.read.format("graft-txlog").option("path", path).load()
      Seq(
        t,                                                    // full scan
        t.filter(col("part") === "1"),                        // partition prune
        t.filter(col("k") >= 110L && col("k") < 190L),        // stats skip
        t.filter(col("part") === "2" && col("k") === 250L))   // both
    }
    val driver = query().map(planned)
    val prevT = spark.conf.getOption("graft.txlog.distributedIndexThreshold")
    spark.conf.set("graft.txlog.distributedIndexThreshold", "1")
    try {
      val dist = query().map(planned)
      // identical FILE SETS planned and identical rows, query by query
      driver.zip(dist).zipWithIndex.foreach { case ((d, x), i) =>
        assert(x._1 == d._1, s"query $i planned ${x._1} files, driver ${d._1}")
        assert(x._2 == d._2, s"query $i rows diverged")
      }
      // the on-demand checkpoint landed and carries len/mtime
      assert(new java.io.File(s"$path/_manifests/v4.ckpt").exists,
        "distributed mode should have written the on-demand checkpoint")
      val ck = spark.read.parquet(s"$path/_manifests/v4.ckpt")
      assert(ck.columns.toSet ==
        Set("f", "rows", "stats", "nulls", "len", "mtime"))
      assert(ck.filter(col("len").isNull).count() == 0,
        "checkpoint len must be statted for every live file")
      // sizeInBytes agrees with the driver walk's stat sum
      spark.conf.unset("graft.txlog.distributedIndexThreshold")
      val sizeDriver = spark.read.format("graft-txlog").option("path", path)
        .load().queryExecution.optimizedPlan.stats.sizeInBytes
      spark.conf.set("graft.txlog.distributedIndexThreshold", "1")
      val sizeDist = spark.read.format("graft-txlog").option("path", path)
        .load().queryExecution.optimizedPlan.stats.sizeInBytes
      assert(sizeDist == sizeDriver,
        s"sizeInBytes diverged: dist $sizeDist vs driver $sizeDriver")
    } finally prevT match {
      case Some(v) => spark.conf.set("graft.txlog.distributedIndexThreshold", v)
      case None => spark.conf.unset("graft.txlog.distributedIndexThreshold")
    }
  }

  test("distributed pruning composes with renames and deletion vectors") {
    val path = freshPath("distdvren")
    TxLog.create(spark.range(0, 100).select(col("id").as("k"),
      (col("id") % 4).cast("string").as("part"), (col("id") * 1.0).as("score"))
      .coalesce(2), path, Some("part"), statsCols = Seq("k"))
    TxLog.renameColumn(spark, path, "score", "quality")
    TxLog.renameColumn(spark, path, "part", "bucket")
    TxLog.deleteWhere(spark, path, col("k") % 10 === 0L, deletionVectors = true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "bucket", "quality").as[(Long, String, Double)]
        .collect().toSet
    val expect = rows(TxLog.read(spark, path))
    val prevT = spark.conf.getOption("graft.txlog.distributedIndexThreshold")
    spark.conf.set("graft.txlog.distributedIndexThreshold", "1")
    try {
      val q = spark.read.format("graft-txlog").option("path", path).load()
      assert(rows(q) == expect)
      // renamed-partition pruning through the distributed planner
      val sel = q.filter(col("bucket") === "2")
      assert(sel.select("k").as[Long].collect().toSet ==
        (0 until 100).filter(i => i % 4 == 2 && i % 10 != 0).map(_.toLong).toSet)
      val m = TxLog.manifest(spark, path, TxLog.currentVersion(spark, path).get)
      val p2Files = m.files.count(_.startsWith("part=2/"))
      assert(scansOf(sel).map(_.selectedPartitions.totalNumberOfFiles).sum
        == p2Files, "renamed partition pruning lost in distributed mode")
    } finally prevT match {
      case Some(v) => spark.conf.set("graft.txlog.distributedIndexThreshold", v)
      case None => spark.conf.unset("graft.txlog.distributedIndexThreshold")
    }
  }
}
