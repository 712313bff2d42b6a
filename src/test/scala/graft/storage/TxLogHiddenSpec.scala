package graft.storage

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Hidden partitioning (Iceberg-style transforms): the table
  * partitions on `days(ts)` / `bucket(n, k)` / `truncate(n, s)` /
  * `hours(ts)` — derived values living only in directory names — and
  * queries keep filtering the RAW column; the planner translates.
  * Everything is timezone-free by construction (epoch arithmetic, the
  * stats-v2 lesson), so write-tz ≠ read-tz can never mis-prune.
  */
class TxLogHiddenSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_hidden_$tag").toString + "/tbl"

  private def scansOf(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Long =
    scansOf(df).map(_.selectedPartitions.totalNumberOfFiles).sum

  private def tsOfHour(h: Long) =
    java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(h * 3600L))

  test("days(ts): derived dirs, raw schema, format mount prunes raw-range filters, cross-tz exact") {
    val path = freshPath("days")
    // 72 hourly rows = 3 epoch days; one file per day per commit
    val d = spark.range(0, 72).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
    TxLog.create(d.coalesce(1), path, hiddenPartitions = Seq("days(ts)"))
    // the layout derived: _days_ts=0/1/2 dirs, schema stays RAW
    val m1 = TxLog.manifest(spark, path, 1L)
    assert(m1.partitionSpec == Seq("days(ts)"))
    assert(m1.partitionCols == Seq("_days_ts"))
    assert(m1.files.size == 3, m1.files.mkString(","))
    assert(m1.files.forall(_.startsWith("_days_ts=")), m1.files.mkString(","))
    // reads: full raw schema, no derived column, values exact
    val head = TxLog.read(spark, path)
    assert(head.columns.toSeq == Seq("ts", "k"))
    assert(head.select("k").as[Long].collect().toSet == (0L until 72L).toSet)
    // the format mount surfaces NO partition columns either
    val viaFormat = spark.read.format("graft-txlog").option("path", path).load()
    assert(viaFormat.columns.toSeq == Seq("ts", "k"))
    assert(viaFormat.count() == 72)
    // a RAW timestamp range filter prunes the derived day dirs: ts >=
    // hour 36 admits days 1 and 2 only (2 of 3 files planned)
    val q = viaFormat.filter(col("ts") >= lit(tsOfHour(36)))
    assert(q.select("k").as[Long].collect().toSet == (36L until 72L).toSet)
    assert(plannedFiles(q) == 2, s"expected 2 of 3 files, got ${plannedFiles(q)}")
    // equality on one instant plans exactly its day
    val e = viaFormat.filter(col("ts") === lit(tsOfHour(25)))
    assert(e.select("k").as[Long].collect().toSet == Set(25L))
    assert(plannedFiles(e) == 1)
    // cross-tz: repeat the range query under a different session tz —
    // epoch arithmetic can't shift, rows and pruning identical
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "Pacific/Kiritimati")
    try {
      val q2 = spark.read.format("graft-txlog").option("path", path).load()
        .filter(col("ts") >= lit(tsOfHour(36)))
      assert(q2.select("k").as[Long].collect().toSet == (36L until 72L).toSet)
      assert(plannedFiles(q2) == 2, "cross-tz hidden pruning lost")
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
    // appends flow to the derived dirs of THEIR rows
    TxLog.append(spark.range(72, 96).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
      .coalesce(1), path)
    val m2 = TxLog.manifest(spark, path, 2L)
    assert(m2.files.size == 4)
    assert(m2.files.count(_.startsWith("_days_ts=3/")) == 1)
    assert(TxLog.read(spark, path).count() == 96)
  }

  test("bucket(8, k): raw equality prunes to one bucket dir; ranges fail open") {
    val path = freshPath("bucket")
    val d = spark.range(0, 100).select(col("id").as("k"),
      (col("id") * 1.0).as("v"))
    TxLog.create(d.coalesce(1), path, hiddenPartitions = Seq("bucket(8, k)"))
    val m = TxLog.manifest(spark, path, 1L)
    assert(m.files.size == 8, s"expected 8 bucket files: ${m.files.size}")
    val t = spark.read.format("graft-txlog").option("path", path).load()
    // equality: exactly one bucket dir planned, value exact
    val q = t.filter(col("k") === 37L)
    assert(q.select("v").as[Double].collect().toSeq == Seq(37.0))
    assert(plannedFiles(q) == 1, s"bucket pruning lost: ${plannedFiles(q)}")
    // the dir the planner picked is the bucket functions.hash picks —
    // pinned through the manifest (one file per bucket, so the single
    // planned file IS that bucket's file)
    val expectBucket = d.filter(col("k") === 37L)
      .select(pmod(hash(col("k")), lit(8))).head().getInt(0)
    assert(m.files.exists(_.startsWith(s"_bucket_k=$expectBucket/")))
    // a RANGE on k scatters across buckets — fail open (all planned)
    val r = t.filter(col("k") >= 90L)
    assert(r.count() == 10)
    assert(plannedFiles(r) == 8, "a range must not bucket-prune")
  }

  test("hours(ts) and truncate transforms derive and prune; string truncate prunes prefix ranges") {
    val path = freshPath("trunc")
    val d = spark.range(0, 100).select(
      concat(lit("user"), format_string("%03d", col("id"))).as("name"),
      col("id").as("k"))
    TxLog.create(d.coalesce(1), path, hiddenPartitions = Seq("truncate(6, name)"))
    val m = TxLog.manifest(spark, path, 1L)
    // user000..user099 → width-6 prefixes user00..user09: 10 dirs
    assert(m.files.size == 10 && m.files.forall(_.startsWith("_trunc_name=")))
    val t = spark.read.format("graft-txlog").option("path", path).load()
    val q = t.filter(col("name") === "user042")
    assert(q.select("k").as[Long].head() == 42L)
    assert(plannedFiles(q) == 1)
    val r = t.filter(col("name") >= "user080")
    assert(r.count() == 20)
    assert(plannedFiles(r) == 2, "prefix-range truncate pruning lost")
    // hours on timestamps
    val path2 = freshPath("hours")
    TxLog.create(spark.range(0, 6).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
      .coalesce(1), path2, hiddenPartitions = Seq("hours(ts)"))
    val t2 = spark.read.format("graft-txlog").option("path", path2).load()
    val q2 = t2.filter(col("ts") === lit(tsOfHour(4)))
    assert(q2.select("k").as[Long].head() == 4L)
    assert(plannedFiles(q2) == 1,
      s"hour pruning lost: ${plannedFiles(q2)} of 6")
    // integral truncate
    val path3 = freshPath("trunci")
    TxLog.create(spark.range(0, 100).select(col("id").as("k"))
      .coalesce(1), path3, hiddenPartitions = Seq("truncate(25, k)"))
    val t3 = spark.read.format("graft-txlog").option("path", path3).load()
    val q3 = t3.filter(col("k") >= 80L)
    assert(q3.count() == 20)
    assert(plannedFiles(q3) == 1, "integral truncate range pruning lost")
  }

  test("merge and DV delete on a hidden table: rows exact, rewrites land back in derived dirs") {
    val path = freshPath("dml")
    TxLog.create(spark.range(0, 48).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"),
      lit(1.0).as("v")).coalesce(1), path,
      hiddenPartitions = Seq("days(ts)"))
    // merge: update one row, insert one — the rewrite restages through
    // the transforms, so every file stays under a derived dir
    TxLog.mergeInto(path, Seq(
        (tsOfHour(5), 5L, 99.0), (tsOfHour(50), 50L, 2.0))
      .toDF("ts", "k", "v"), Seq("k"))
    val m = TxLog.manifest(spark, path, TxLog.currentVersion(spark, path).get)
    assert(m.files.forall(_.startsWith("_days_ts=")), m.files.mkString(","))
    val r = TxLog.read(spark, path)
    assert(r.count() == 49)
    assert(r.filter(col("k") === 5L).select("v").as[Double].head() == 99.0)
    assert(r.filter(col("k") === 50L).select("v").as[Double].head() == 2.0)
    // deleteWhere (rewrite form)
    TxLog.deleteWhere(spark, path, col("k") < 3L)
    assert(TxLog.read(spark, path).count() == 46)
    // DV delete composes too
    TxLog.deleteWhere(spark, path, col("k") === 10L, deletionVectors = true)
    assert(TxLog.read(spark, path).count() == 45)
    assert(spark.read.format("graft-txlog").option("path", path).load()
      .count() == 45)
  }

  test("distributed planner composes with hidden pruning (same plan as the driver walk)") {
    val path = freshPath("dist")
    TxLog.create(spark.range(0, 72).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
      .coalesce(1), path, hiddenPartitions = Seq("days(ts)"))
    def q() = spark.read.format("graft-txlog").option("path", path).load()
      .filter(col("ts") >= lit(tsOfHour(36)))
    val (pDriver, rowsDriver) = (plannedFiles(q()),
      q().select("k").as[Long].collect().toSet)
    val prev = spark.conf.getOption("graft.txlog.distributedIndexThreshold")
    spark.conf.set("graft.txlog.distributedIndexThreshold", "1")
    try {
      assert(plannedFiles(q()) == pDriver,
        "distributed hidden pruning diverged from the driver walk")
      assert(q().select("k").as[Long].collect().toSet == rowsDriver)
    } finally prev match {
      case Some(v) => spark.conf.set("graft.txlog.distributedIndexThreshold", v)
      case None => spark.conf.unset("graft.txlog.distributedIndexThreshold")
    }
  }

  test("bucket mounts are REAL bucketed relations: equi-join and groupBy on the raw key plan shuffle-free") {
    val pathA = freshPath("bja")
    val pathB = freshPath("bjb")
    TxLog.create(spark.range(0, 200).select(col("id").as("k"),
      (col("id") * 1.0).as("va")).coalesce(1), pathA,
      hiddenPartitions = Seq("bucket(8, k)"))
    TxLog.create(spark.range(100, 300).select(col("id").as("k"),
      (col("id") * 2.0).as("vb")).coalesce(1), pathB,
      hiddenPartitions = Seq("bucket(8, k)"))
    def mount(p: String) =
      spark.read.format("graft-txlog").option("path", p).load()
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val j = mount(pathA).join(mount(pathB), "k")
        .select(col("k"), (col("va") + col("vb")).as("s"))
      assert(j.as[(Long, Double)].collect().toSet ==
        (100L until 200L).map(k => (k, k * 3.0)).toSet)
      val plan = j.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed equi-join still shuffles:\n${plan.take(2000)}")
      assert(plan.contains("SelectedBucketsCount") || plan.contains("Bucketed: true"),
        s"scan is not bucketed:\n${plan.take(2000)}")
      // control: the same rows in plain TxLog tables join through a
      // hash shuffle, so the no-Exchange pins here are not vacuous
      val plainA = freshPath("bjpa")
      val plainB = freshPath("bjpb")
      TxLog.create(spark.range(0, 200).select(col("id").as("k"),
        (col("id") * 1.0).as("va")).coalesce(1), plainA)
      TxLog.create(spark.range(100, 300).select(col("id").as("k"),
        (col("id") * 2.0).as("vb")).coalesce(1), plainB)
      val jp = mount(plainA).join(mount(plainB), "k")
        .select(col("k"), (col("va") + col("vb")).as("s"))
      assert(jp.as[(Long, Double)].collect().toSet ==
        (100L until 200L).map(k => (k, k * 3.0)).toSet)
      assert(jp.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "plain join unexpectedly avoided the shuffle")
      // bucket files are written SORTED by the key: with Spark's
      // sorted-bucket-scan conf (and one file per bucket) the merge
      // join consumes the scans directly — zero Exchange, ZERO SORT —
      // and stays row-exact (an unsorted file behind the claim would
      // silently drop matches, so the row assertion is load-bearing)
      spark.conf.set("spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      try {
        val js = mount(pathA).join(mount(pathB), "k")
          .select(col("k"), (col("va") + col("vb")).as("s"))
        assert(js.as[(Long, Double)].collect().toSet ==
          (100L until 200L).map(k => (k, k * 3.0)).toSet)
        val plan = js.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning") &&
          !plan.contains("Sort ["),
          s"sorted-bucket join still sorts:\n${plan.take(1500)}")
      } finally spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "false")
      // single-side: groupBy on the bucket source aggregates in place
      val g = mount(pathA).groupBy("k").agg(sum("va").as("s"))
      assert(g.count() == 200)
      assert(!g.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "bucketed groupBy still shuffles")
      // appends keep the bucket contract (new files carry ids too)
      TxLog.append(spark.range(200, 208).select(col("id").as("k"),
        (col("id") * 1.0).as("va")).coalesce(1), pathA)
      val j2 = mount(pathA).join(mount(pathB), "k")
      assert(j2.count() == 108)
      assert(!j2.queryExecution.executedPlan.toString
        .contains("Exchange hashpartitioning"),
        "bucketed join shuffles after an append")
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
  }

  test("days(date): a DATE source derives day ordinals and prunes raw date ranges") {
    val path = freshPath("ddate")
    TxLog.create(spark.range(0, 30).select(
      date_add(lit("2021-01-01").cast("date"), col("id").cast("int")).as("d"),
      col("id").as("k")).coalesce(1), path,
      hiddenPartitions = Seq("days(d)"))
    val m = TxLog.manifest(spark, path, 1L)
    assert(m.files.size == 30 && m.files.forall(_.startsWith("_days_d=")))
    val t = spark.read.format("graft-txlog").option("path", path).load()
    val q = t.filter(col("d") >= lit("2021-01-25").cast("date"))
    assert(q.select("k").as[Long].collect().toSet == (24L until 30L).toSet)
    assert(plannedFiles(q) == 6, s"date-range pruning lost: ${plannedFiles(q)}")
  }

  test("optimized write: repartition-to-dir before staging lands ~one file per partition dir") {
    val path = freshPath("optw")
    val pathOff = freshPath("optwoff")
    // 8-way input × 3 days: default staging writes up to 24 files,
    // optimized writes exactly 3 (one per dir)
    val d = spark.range(0, 72).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
      .repartition(8)
    TxLog.create(d, pathOff, hiddenPartitions = Seq("days(ts)"))
    val filesOff = TxLog.manifest(spark, pathOff, 1L).files.size
    assert(filesOff > 3, s"precondition: unoptimized staging wrote $filesOff")
    spark.conf.set("graft.txlog.optimizedWrite", "true")
    try {
      TxLog.create(d, path, hiddenPartitions = Seq("days(ts)"))
      val m = TxLog.manifest(spark, path, 1L)
      assert(m.files.size == 3,
        s"optimized write should land 1 file/dir: ${m.files.mkString(",")}")
      assert(TxLog.read(spark, path).select("k").as[Long].collect().toSet ==
        (0L until 72L).toSet)
      // plain (non-hidden) partitioned tables compact the same way
      val path2 = freshPath("optw2")
      TxLog.create(spark.range(0, 90).select(col("id").as("k"),
        (col("id") % 3).cast("string").as("part")).repartition(8),
        path2, Some("part"))
      assert(TxLog.manifest(spark, path2, 1L).files.size == 3)
    } finally spark.conf.unset("graft.txlog.optimizedWrite")
  }

  test("streaming sink into a hidden table: appended batches land in derived dirs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val out = freshPath("ssink")
    TxLog.create(spark.range(0, 2).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
      .coalesce(1), out, hiddenPartitions = Seq("days(ts)"))
    val ms = MemoryStream[(Long, Long)](spark)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_hidden_ckpt").toString
    val q = ms.toDF().select(
        timestamp_micros(col("_1") * 3600000000L).as("ts"), col("_2").as("k"))
      .writeStream.format("graft-txlog").option("path", out)
      .option("checkpointLocation", ckpt).start()
    try {
      ms.addData((30L, 30L), (50L, 50L)) // days 1 and 2
      q.processAllAvailable()
    } finally q.stop()
    val m = TxLog.manifest(spark, out, TxLog.currentVersion(spark, out).get)
    assert(m.files.forall(_.startsWith("_days_ts=")), m.files.mkString(","))
    assert(m.files.exists(_.startsWith("_days_ts=1/")) &&
      m.files.exists(_.startsWith("_days_ts=2/")), m.files.mkString(","))
    assert(TxLog.read(spark, out).select("k").as[Long].collect().toSet ==
      Set(0L, 1L, 30L, 50L))
  }

  test("multi-transform layout (days + bucket nested): combined pruning, CDF, compact and vacuum all compose") {
    val path = freshPath("multi")
    TxLog.create(spark.range(0, 96).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"),
      lit(1.0).as("v")).coalesce(2), path,
      hiddenPartitions = Seq("days(ts)", "bucket(4, k)"))
    val m1 = TxLog.manifest(spark, path, 1L)
    assert(m1.partitionCols == Seq("_days_ts", "_bucket_k"))
    assert(m1.files.forall(f =>
      f.startsWith("_days_ts=") && f.contains("/_bucket_k=")), m1.files.take(3))
    val t = spark.read.format("graft-txlog").option("path", path).load()
    // BOTH transforms vote: day range × key equality plans one dir
    val q = t.filter(col("ts") >= lit(tsOfHour(48)) && col("k") === 50L)
    assert(q.select("v").as[Double].collect().toSeq == Seq(1.0))
    assert(plannedFiles(q) <= 2, // day 2's matching bucket only
      s"combined pruning lost: ${plannedFiles(q)}")
    // CDF across a hidden-table merge: exactly the changed keys
    TxLog.mergeInto(path, Seq((tsOfHour(10), 10L, 9.0))
      .toDF("ts", "k", "v"), Seq("k"))
    val feed = TxLog.changes(spark, path, 1L, 2L, Seq("k"))
    val byKey = feed.collect()
      .map(r => r.getAs[Long]("k") -> r.getAs[String]("_change_type")).toMap
    assert(byKey == Map(10L -> "update"), byKey.toString)
    // compact keeps rows and the derived layout
    TxLog.compact(spark, path, minFilesToCompact = 1)
    val mc = TxLog.manifest(spark, path, TxLog.currentVersion(spark, path).get)
    assert(mc.files.forall(f =>
      f.startsWith("_days_ts=") && f.contains("/_bucket_k=")))
    assert(TxLog.read(spark, path).count() == 96)
    // vacuum GCs superseded files without touching the live set
    val deleted = TxLog.vacuum(spark, path, keepVersions = 1)
    assert(deleted.nonEmpty, "compact must have superseded files")
    assert(TxLog.read(spark, path).count() == 96)
  }

  test("escaped string dirs and timestamp buckets: votes stay exact (no mis-prune, no throw)") {
    // string values with PATH-ESCAPED chars: the dir spells 'a%20b...';
    // the vote must compare unescaped or lexicographic order flips
    val path = freshPath("esc")
    TxLog.create(Seq(("a b0", 1L), ("a b1", 2L), ("z z9", 3L))
      .toDF("s", "k").coalesce(1), path,
      hiddenPartitions = Seq("truncate(3, s)"))
    val t = spark.read.format("graft-txlog").option("path", path).load()
    val q = t.filter(col("s") === "a b0")
    assert(q.select("k").as[Long].collect().toSet == Set(1L),
      "escaped-dir equality lost rows")
    assert(plannedFiles(q) == 1, s"escaped-dir pruning: ${plannedFiles(q)}")
    val r = t.filter(col("s") >= "z")
    assert(r.select("k").as[Long].collect().toSet == Set(3L))
    assert(plannedFiles(r) == 1)
    // bucket on a TIMESTAMP column: the vote hashes the internal
    // micros value — must neither throw nor mis-bucket
    val p2 = freshPath("bts")
    TxLog.create(spark.range(0, 24).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
      .coalesce(1), p2, hiddenPartitions = Seq("bucket(4, ts)"))
    val t2 = spark.read.format("graft-txlog").option("path", p2).load()
    val q2 = t2.filter(col("ts") === lit(tsOfHour(7)))
    assert(q2.select("k").as[Long].collect().toSet == Set(7L))
    assert(plannedFiles(q2) == 1, s"ts-bucket pruning: ${plannedFiles(q2)}")
  }

  test("SQL verb, createOrReplace and DESCRIBE DETAIL speak hidden layouts") {
    val path = freshPath("sqlv")
    spark.range(0, 40).select(col("id").as("k"), (col("id") * 1.0).as("v"))
      .createOrReplaceTempView("hidden_src")
    try {
      // TXLOG CREATE ... HIDDEN PARTITION BY (comma inside bucket(...)
      // must not split the spec list)
      graft.tools.Sql.exec(spark,
        s"TXLOG CREATE '$path' HIDDEN PARTITION BY bucket(4, k) AS " +
          "SELECT * FROM hidden_src")
      val m = TxLog.manifest(spark, path, 1L)
      assert(m.partitionSpec == Seq("bucket(4, k)"))
      assert(TxLog.read(spark, path).count() == 40)
      // DESCRIBE DETAIL shows the SPEC, not the derived dir name
      val det = TxLog.detail(spark, path).head()
      assert(det.getAs[String]("partition_col") == "bucket(4, k)",
        det.toString)
      // createOrReplace redefines the layout (plain -> hidden and back)
      TxLog.createOrReplace(
        spark.range(0, 10).select(col("id").as("k"), lit(0.0).as("v")),
        path, hiddenPartitions = Seq("truncate(2, k)"))
      val m2 = TxLog.manifest(spark, path, TxLog.currentVersion(spark, path).get)
      assert(m2.partitionSpec == Seq("truncate(2, k)"))
      assert(m2.files.forall(_.startsWith("_trunc_k=")))
      assert(TxLog.read(spark, path).count() == 10)
      // pinned old version keeps ITS layout
      assert(TxLog.manifest(spark, path, 1L).partitionSpec ==
        Seq("bucket(4, k)"))
    } finally spark.catalog.dropTempView("hidden_src")
  }

  test("guard rails: bad specs refuse, transform-source rename refuses, replacePartitions refuses, protocol 2 stamped") {
    val path = freshPath("guards")
    val d = spark.range(0, 10).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
    // unsupported spec / wrong type / unknown column refuse at CREATE
    intercept[IllegalArgumentException] {
      TxLog.create(d, path, hiddenPartitions = Seq("months(ts)"))
    }
    intercept[IllegalArgumentException] {
      TxLog.create(d, path, hiddenPartitions = Seq("days(k)"))
    }
    intercept[IllegalArgumentException] {
      TxLog.create(d, path, hiddenPartitions = Seq("days(nope)"))
    }
    intercept[IllegalArgumentException] {
      TxLog.create(d, path, partitionCol = Some("k"),
        hiddenPartitions = Seq("days(ts)"))
    }
    TxLog.create(d.coalesce(1), path, hiddenPartitions = Seq("days(ts)"))
    // the commit gates old readers (a pre-spec build would look the
    // derived dir column up in the schema) and old writers
    val txt = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$path/_manifests/v1.json")), "UTF-8")
    assert(txt.contains("\"protocol\" : 2"), txt.take(300))
    assert(TxLog.manifest(spark, path, 1L).minWriter == 2)
    // renaming the transform's source column refuses (the spec text is
    // the manifest contract)
    val e = intercept[IllegalArgumentException] {
      TxLog.renameColumn(spark, path, "ts", "event_ts")
    }
    assert(e.getMessage.contains("days(ts)"), e.getMessage)
    // non-source columns still rename fine
    TxLog.renameColumn(spark, path, "k", "key_id")
    assert(TxLog.read(spark, path).columns.toSeq == Seq("ts", "key_id"))
    // replacePartitions has no raw-space name for a derived partition
    val e2 = intercept[IllegalArgumentException] {
      TxLog.replacePartitions(d.toDF("ts", "key_id"), path, Seq(0L))
    }
    assert(e2.getMessage.contains("HIDDEN"), e2.getMessage)
  }

  test("clone carries the partition spec: the clone reads, prunes and appends like the source") {
    val src = freshPath("clone_src")
    val shallow = freshPath("clone_sh")
    val deep = freshPath("clone_dp")
    val d = spark.range(0, 72).select(
      timestamp_micros(col("id") * 3600000000L).as("ts"), col("id").as("k"))
    TxLog.create(d.coalesce(1), src, hiddenPartitions = Seq("days(ts)"))
    TxLog.clone(spark, src, shallow)
    TxLog.clone(spark, src, deep, deep = true)
    for ((tgt, tag) <- Seq((shallow, "shallow"), (deep, "deep"))) {
      val m = TxLog.manifest(spark, tgt, 1L)
      assert(m.partitionSpec == Seq("days(ts)"),
        s"$tag clone lost the partition spec — reads would recover " +
          "derived dirs as schema columns")
      val out = TxLog.read(spark, tgt)
      assert(out.columns.toSeq == Seq("ts", "k"), s"$tag clone schema")
      assert(out.select("k").as[Long].collect().toSet == (0L until 72L).toSet,
        s"$tag clone rows")
      // derived-layout pruning still works on the clone (through the
      // format mount, where the dir votes live): equality on one
      // instant plans exactly its day — even for the shallow clone's
      // ABSOLUTE by-reference entries
      val day1 = spark.read.format("graft-txlog").option("path", tgt).load()
        .filter(col("ts") === lit(tsOfHour(25)))
      assert(plannedFiles(day1) == 1, s"$tag clone lost hidden pruning")
      assert(day1.count() == 1)
      // and new writes derive the clone's own layout
      TxLog.append(spark.range(72, 73).select(
        timestamp_micros(col("id") * 3600000000L).as("ts"),
        col("id").as("k")), tgt)
      val m2 = TxLog.manifest(spark, tgt, 2L)
      assert(m2.files.exists(_.startsWith("_days_ts=3/")),
        s"$tag clone append did not land in derived dirs: ${m2.files}")
      assert(TxLog.read(spark, tgt).count() == 73)
    }
  }
}
