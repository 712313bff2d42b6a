package graft

import org.apache.spark.sql.functions._

import graft.storage.TxLog

class TxLogSpec extends SparkSpec {
  import spark.implicits._

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_txlog_$tag").toString + "/tbl"

  private def fixture = Seq(
    (1L, "p1", 10.0), (2L, "p1", 20.0), (3L, "p2", 30.0),
    (4L, "p2", 40.0), (5L, "p3", 50.0), (6L, "p3", 60.0)
  ).toDF("k", "part", "v")

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String, Double)] =
    df.select("k", "part", "v").as[(Long, String, Double)].collect().toSet

  test("create/read round-trip; version-pinned read reproduces the pre-merge table") {
    val path = freshPath("pin")
    assert(TxLog.create(fixture, path, Some("part")) == 1L)
    assert(rows(TxLog.read(spark, path)) == rows(fixture))
    val updates = Seq((2L, "p1", 99.0), (7L, "p1", 70.0)).toDF("k", "part", "v")
    assert(TxLog.mergeInto(path, updates, Seq("k")) == 2L)
    // latest: updates win, new key present, other partitions untouched
    val want2 = rows(fixture).filterNot(_._1 == 2L) ++
      Set((2L, "p1", 99.0), (7L, "p1", 70.0))
    assert(rows(TxLog.read(spark, path)) == want2)
    // time travel: the pinned read is the pre-merge table, bit for bit
    assert(rows(TxLog.read(spark, path, Some(1L))) == rows(fixture))
    assert(TxLog.currentVersion(spark, path).contains(2L))
  }

  test("snapshot isolation: a reader resolved BEFORE the commit keeps its snapshot") {
    val path = freshPath("iso")
    TxLog.create(fixture, path, Some("part"))
    // resolve the reader first — it pins v1's file list
    val reader = TxLog.read(spark, path)
    val updates = Seq((1L, "p1", -1.0), (3L, "p2", -3.0)).toDF("k", "part", "v")
    TxLog.mergeInto(path, updates, Seq("k"))
    // the pre-commit reader sees EXACTLY v1 — never a mix of versions
    assert(rows(reader) == rows(fixture),
      "pre-commit reader observed the merge")
    // and a fresh reader sees exactly v2
    val want2 = rows(fixture).filterNot(r => r._1 == 1L || r._1 == 3L) ++
      Set((1L, "p1", -1.0), (3L, "p2", -3.0))
    assert(rows(TxLog.read(spark, path)) == want2)
  }

  test("mergeInto rewrites only the FILES holding a matched key: everything else byte-identical") {
    val path = freshPath("ref")
    TxLog.create(fixture, path, Some("part"))
    val m1 = TxLog.manifest(spark, path, 1L)
    def fileState(rel: String): (Long, Long) = {
      val f = new java.io.File(s"$path/data/$rel")
      (f.length, f.lastModified)
    }
    val before = m1.files.map(f => f -> fileState(f)).toMap
    val updates = Seq((2L, "p1", 99.0)).toDF("k", "part", "v")
    TxLog.mergeInto(path, updates, Seq("k"))
    val m2 = TxLog.manifest(spark, path, 2L)
    val carried = m2.files.toSet.intersect(m1.files.toSet)
    val removed = m1.files.toSet.diff(m2.files.toSet)
    // FILE-granular: only files actually holding key 2 leave the
    // manifest — never a whole partition
    assert(removed.nonEmpty && removed.forall(_.startsWith("part=p1/")),
      s"non-p1 files rewritten: $removed")
    removed.foreach { f =>
      val hasKey = spark.read.parquet(s"$path/data/$f")
        .filter(col("k") === 2L).limit(1).count() == 1
      assert(hasKey, s"$f was rewritten but holds no matched key")
    }
    // every other file — p2/p3 AND any p1 file without the key —
    // carries by reference, bytes never move
    assert(m1.files.toSet.diff(removed) == carried, "carried set wrong")
    carried.foreach(f => assert(fileState(f) == before(f), s"$f changed on disk"))
    // v1's files all still exist for time travel
    m1.files.foreach(f => assert(new java.io.File(s"$path/data/$f").exists, s"$f deleted"))
  }

  test("file-granular merge: 1-key merge into a partition of stat-disjoint files rewrites exactly the admitting file") {
    val path = freshPath("fgm")
    // one partition, two files with DISJOINT k ranges via two appends
    TxLog.create(Seq((1L, "p1", 1.0), (2L, "p1", 2.0)).toDF("k", "part", "v")
      .coalesce(1), path, Some("part"), statsCols = Seq("k"))
    TxLog.append(Seq((100L, "p1", 100.0), (200L, "p1", 200.0))
      .toDF("k", "part", "v").coalesce(1), path)
    val m2 = TxLog.manifest(spark, path, 2L)
    assert(m2.files.size == 2 && m2.files.forall(_.startsWith("part=p1/")))
    val lowFile = m2.files.find(f =>
      m2.fileStats(f)("k")._1.toDouble <= 1.0).get
    val highFile = m2.files.filterNot(_ == lowFile).head
    val highState = {
      val f = new java.io.File(s"$path/data/$highFile"); (f.length, f.lastModified)
    }
    // merge key 1 — stats admit only lowFile
    TxLog.mergeInto(path, Seq((1L, "p1", -1.0)).toDF("k", "part", "v"), Seq("k"))
    val m3 = TxLog.manifest(spark, path, 3L)
    assert(!m3.files.contains(lowFile), "admitting file not rewritten")
    assert(m3.files.contains(highFile), "stat-disjoint sibling was rewritten")
    val f = new java.io.File(s"$path/data/$highFile")
    assert((f.length, f.lastModified) == highState, "sibling bytes moved")
    assert(rows(TxLog.read(spark, path)) ==
      Set((1L, "p1", -1.0), (2L, "p1", 2.0), (100L, "p1", 100.0), (200L, "p1", 200.0)))
    // deleteWhere is file-granular through the same machinery
    TxLog.deleteWhere(spark, path, col("k") === 200L)
    val m4 = TxLog.manifest(spark, path, 4L)
    assert(m4.files.exists(f0 => spark.read.parquet(s"$path/data/$f0")
      .filter(col("k") === 2L).count() == 1))
    assert(rows(TxLog.read(spark, path)) ==
      Set((1L, "p1", -1.0), (2L, "p1", 2.0), (100L, "p1", 100.0)))
    // the file holding only keys 1,2 (already rewritten at v3) is
    // NOT part of the delete's rewrite set
    val v3LowNew = m3.files.filterNot(_ == highFile)
    v3LowNew.foreach(f0 => assert(m4.files.contains(f0),
      s"delete of k=200 rewrote unrelated file $f0"))
  }

  test("a key MOVING partitions leaves no stale row; an emptied partition drops out") {
    val path = freshPath("move")
    val d = Seq((1L, "p1", 1.0), (2L, "p2", 2.0)).toDF("k", "part", "v")
    TxLog.create(d, path, Some("part"))
    // key 2 moves p2 -> p1, leaving p2 empty
    val updates = Seq((2L, "p1", 22.0)).toDF("k", "part", "v")
    TxLog.mergeInto(path, updates, Seq("k"))
    assert(rows(TxLog.read(spark, path)) == Set((1L, "p1", 1.0), (2L, "p1", 22.0)))
    assert(TxLog.manifest(spark, path, 2L).files.forall(!_.startsWith("part=p2/")),
      "emptied partition still referenced")
    // v1 still reproduces the pre-move layout
    assert(rows(TxLog.read(spark, path, Some(1L))) == rows(d))
  }

  test("multi-column partitioning: (date, hour) lifecycle — create/append/merge/delete/replace/compact/CDF/clone") {
    val path = freshPath("twocol")
    val d0 = Seq(
      ("d1", 0, 1L, 1.0), ("d1", 1, 2L, 2.0),
      ("d2", 0, 3L, 3.0), ("d2", 1, 4L, 4.0)
    ).toDF("date", "hour", "k", "v")
    TxLog.create(d0, path, partitionCols = Seq("date", "hour"))
    val m1 = TxLog.manifest(spark, path, 1L)
    assert(m1.partitionCols == Seq("date", "hour"))
    // nested Hive layout on disk, demanded-writer generation 2
    assert(m1.files.forall(f => f.matches("date=[^/]+/hour=[^/]+/.*\\.parquet")),
      m1.files.toString)
    assert(m1.minWriter == 2, "multi-column layout must demand writer gen 2")
    def all(): Set[(String, Int, Long, Double)] =
      TxLog.read(spark, path).select("date", "hour", "k", "v")
        .as[(String, Int, Long, Double)].collect().toSet
    assert(all() == Set(("d1", 0, 1L, 1.0), ("d1", 1, 2L, 2.0),
      ("d2", 0, 3L, 3.0), ("d2", 1, 4L, 4.0)))
    // append + merge (update one key, insert one) + delete
    TxLog.append(Seq(("d3", 0, 5L, 5.0)).toDF("date", "hour", "k", "v"), path)
    TxLog.mergeInto(path,
      Seq(("d1", 0, 1L, -1.0), ("d3", 1, 6L, 6.0)).toDF("date", "hour", "k", "v"),
      Seq("k"))
    TxLog.deleteWhere(spark, path, col("k") === 4L)
    assert(all() == Set(("d1", 0, 1L, -1.0), ("d1", 1, 2L, 2.0),
      ("d2", 0, 3L, 3.0), ("d3", 0, 5L, 5.0), ("d3", 1, 6L, 6.0)))
    // replacePartitions names leaf partitions as tuples
    TxLog.replacePartitions(
      Seq(("d1", 0, 10L, 10.0)).toDF("date", "hour", "k", "v"),
      path, Seq(Seq("d1", 0)))
    assert(all() == Set(("d1", 0, 10L, 10.0), ("d1", 1, 2L, 2.0),
      ("d2", 0, 3L, 3.0), ("d3", 0, 5L, 5.0), ("d3", 1, 6L, 6.0)))
    // a row outside the named leaf refuses
    intercept[IllegalArgumentException] {
      TxLog.replacePartitions(
        Seq(("d1", 1, 11L, 11.0)).toDF("date", "hour", "k", "v"),
        path, Seq(Seq("d1", 0)))
    }
    // scoped OPTIMIZE on one leaf partition only
    TxLog.append(Seq(("d1", 0, 12L, 12.0)).toDF("date", "hour", "k", "v"), path)
    val vPre = TxLog.currentVersion(spark, path).get
    val preOther = TxLog.manifest(spark, path, vPre).files
      .filterNot(_.startsWith("date=d1/hour=0/")).toSet
    TxLog.compact(spark, path, partitions = Seq(Seq("d1", 0)))
    val vPost = TxLog.currentVersion(spark, path).get
    assert(vPost == vPre + 1)
    assert(TxLog.manifest(spark, path, vPost).files
      .filterNot(_.startsWith("date=d1/hour=0/")).toSet == preOther,
      "scoped compact touched files outside its leaf")
    assert(TxLog.manifest(spark, path, vPost).files
      .count(_.startsWith("date=d1/hour=0/")) == 1)
    // CDF across the replace reports exactly the changed keys
    val cdf = TxLog.changes(spark, path, vPre, vPost, Seq("k"))
    assert(cdf.count() == 0, "compaction is layout-only: CDF must be empty")
    // time travel + clone carry the two-column layout
    assert(TxLog.read(spark, path, Some(1L)).count() == 4)
    val tgt = freshPath("twocol_clone")
    TxLog.clone(spark, path, tgt)
    assert(TxLog.manifest(spark, tgt, 1L).partitionCols == Seq("date", "hour"))
    assert(TxLog.read(spark, tgt).count() == TxLog.read(spark, path).count())
  }

  test("multi-column partition pruning: a (date, hour) filter plans only the matching leaf dir's files") {
    val path = freshPath("twocol_prune")
    val rows = for (d <- 1 to 4; h <- 0 until 6) yield (s"d$d", h, (d * 10 + h).toLong)
    TxLog.create(rows.toDF("date", "hour", "k").repartition(4),
      path, partitionCols = Seq("date", "hour"))
    val q = TxLog.read(spark, path)
      .filter(col("date") === "d2" && col("hour") === 3)
    assert(q.select("k").as[Long].collect().toSeq == Seq(23L))
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    val leafFiles = TxLog.manifest(spark, path, 1L).files
      .count(_.startsWith("date=d2/hour=3/"))
    val planned = scans.map(_.selectedPartitions.totalNumberOfFiles).sum
    assert(planned == leafFiles,
      s"planned $planned files, leaf dir holds $leafFiles — partition pruning lost")
    // and the partition filters actually reached the scan
    assert(scans.exists(_.partitionFilters.nonEmpty),
      "no partition filters pushed to the scan")
  }

  test("append adds files without touching old ones") {
    val path = freshPath("app")
    TxLog.create(fixture, path, Some("part"))
    val m1 = TxLog.manifest(spark, path, 1L)
    TxLog.append(Seq((8L, "p1", 80.0)).toDF("k", "part", "v"), path)
    val m2 = TxLog.manifest(spark, path, 2L)
    assert(m1.files.toSet.subsetOf(m2.files.toSet), "append dropped old files")
    assert(rows(TxLog.read(spark, path)) == rows(fixture) + ((8L, "p1", 80.0)))
  }

  test("vacuum drops only unreferenced files; old versions become unreadable, latest intact") {
    val path = freshPath("vac")
    TxLog.create(fixture, path, Some("part"))
    val updates = Seq((2L, "p1", 99.0)).toDF("k", "part", "v")
    TxLog.mergeInto(path, updates, Seq("k"))
    val want = rows(TxLog.read(spark, path))
    // exactly the files the (file-granular) merge superseded die —
    // nothing the live manifest holds
    val superseded = TxLog.manifest(spark, path, 1L).files.toSet
      .diff(TxLog.manifest(spark, path, 2L).files.toSet)
    val deleted = TxLog.vacuum(spark, path, keepVersions = 1)
    assert(deleted.toSet == superseded, s"vacuum deleted $deleted, expected $superseded")
    assert(rows(TxLog.read(spark, path)) == want, "latest version damaged by vacuum")
    intercept[IllegalArgumentException] { TxLog.read(spark, path, Some(1L)).collect() }
  }

  test("vacuum's distributed sweep enumerates and deletes the same set as the driver walk") {
    val path = freshPath("vac_dist")
    TxLog.create(fixture, path, Some("part"))
    TxLog.mergeInto(path, Seq((2L, "p1", 99.0)).toDF("k", "part", "v"), Seq("k"))
    val want = rows(TxLog.read(spark, path))
    val superseded = TxLog.manifest(spark, path, 1L).files.toSet
      .diff(TxLog.manifest(spark, path, 2L).files.toSet)
    // driver-mode dry run is the reference enumeration
    val driverSet = TxLog.vacuum(spark, path, keepVersions = 1,
      dryRun = true).toSet
    assert(driverSet == superseded)
    // force BOTH the enumeration fan-out and the task-side deletes
    spark.conf.set("graft.txlog.distributedIndexThreshold", "1")
    try {
      assert(TxLog.vacuum(spark, path, keepVersions = 1,
        dryRun = true).toSet == driverSet,
        "distributed enumeration must match the driver walk exactly")
      val deleted = TxLog.vacuum(spark, path, keepVersions = 1)
      assert(deleted.toSet == superseded)
      assert(rows(TxLog.read(spark, path)) == want,
        "latest version damaged by the distributed sweep")
      // idempotent: a re-run after the sweep finds nothing
      assert(TxLog.vacuum(spark, path, keepVersions = 1).isEmpty)
    } finally spark.conf.unset("graft.txlog.distributedIndexThreshold")
  }

  test("compact (OPTIMIZE): fewer files, identical rows, old version keeps the small files") {
    val path = freshPath("opt")
    TxLog.create(fixture, path, Some("part"))
    // four tiny appends fragment the partitions
    (0 until 4).foreach { i =>
      TxLog.append(Seq((100L + i, "p1", i.toDouble)).toDF("k", "part", "v"), path)
    }
    val vPre = TxLog.currentVersion(spark, path).get
    val preFiles = TxLog.manifest(spark, path, vPre).files
    val preP1 = preFiles.count(_.startsWith("part=p1/"))
    assert(preP1 >= 5, s"fixture not fragmented: $preP1 files in p1")
    val want = rows(TxLog.read(spark, path))
    val vPost = TxLog.compact(spark, path, targetBytesPerFile = 1L << 30)
    assert(vPost == vPre + 1)
    val postFiles = TxLog.manifest(spark, path, vPost).files
    assert(postFiles.count(_.startsWith("part=p1/")) == 1,
      s"p1 not compacted: ${postFiles.filter(_.startsWith("part=p1/"))}")
    assert(rows(TxLog.read(spark, path)) == want, "compaction changed content")
    // the fragmented layout is still readable at the old version
    assert(rows(TxLog.read(spark, path, Some(vPre))) == want)
    assert(preFiles.forall(f => new java.io.File(s"$path/data/$f").exists),
      "compact deleted files a retained manifest references")
    // a second compact is a no-op (everything already single-file)
    assert(TxLog.compact(spark, path) == vPost)
  }

  test("streaming ingest: micro-batches commit as versions; batch replay cannot double-append") {
    val path = freshPath("stream")
    val docs = Seq((1L, "p1", 1.0), (2L, "p2", 2.0), (3L, "p1", 3.0),
      (4L, "p2", 4.0), (5L, "p3", 5.0), (6L, "p3", 6.0))
      .toDF("k", "part", "v")
    val srcDir = java.nio.file.Files.createTempDirectory("graft_txlog_src").toString
    docs.repartition(3).write.mode("overwrite").parquet(srcDir)
    TxLog.create(docs.limit(0), path, Some("part"))
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val q = TxLog.streamAppend(stream, path)
    try q.processAllAvailable() finally q.stop()
    assert(rows(TxLog.read(spark, path)) == rows(docs),
      "streamed table diverges from the source")
    val v = TxLog.currentVersion(spark, path).get
    assert(v >= 3, s"expected one version per micro-batch, got $v") // create + >=2 batches
    // crash replay: re-delivering the last batch is a NO-OP
    val lastBatch = TxLog.manifest(spark, path, v).sourceBatchId.get
    val vAfterReplay = TxLog.appendBatch(docs.limit(2), path, lastBatch)
    assert(vAfterReplay == v, "replayed batch double-appended")
    assert(rows(TxLog.read(spark, path)) == rows(docs))
  }

  test("read returns the DECLARED schema: column order and long partition type survive the round trip") {
    val path = freshPath("schema")
    // LONG partition column: naive parquet partition inference would
    // read the directory names back as INT, and partition columns
    // would migrate to the END of the schema
    val d = Seq((1L, 10.0, 7L), (2L, 20.0, 8L)).toDF("k", "v", "bucket")
    TxLog.create(d, path, Some("bucket"))
    val back = TxLog.read(spark, path)
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      d.schema.map(f => (f.name, f.dataType)),
      s"schema drifted: ${back.schema.toDDL} vs ${d.schema.toDDL}")
    assert(back.as[(Long, Double, Long)].collect().toSet == Set((1L, 10.0, 7L), (2L, 20.0, 8L)))
  }

  test("type-ambiguous and escaped partition VALUES survive: '01' stays '01', spaces merge cleanly") {
    val path = freshPath("vals")
    // "01" would partition-infer as INT 1; "a b" escapes to a%20b on disk
    val d = Seq((1L, "01", 1.0), (2L, "a b", 2.0), (3L, "01", 3.0))
      .toDF("k", "part", "v")
    TxLog.create(d, path, Some("part"))
    assert(rows(TxLog.read(spark, path)) == rows(d),
      "partition values corrupted by the read round trip")
    // merging into the escaped partition must drop its OLD files (the
    // touched-dir arithmetic has to match Spark's path escaping)
    TxLog.mergeInto(path, Seq((2L, "a b", 22.0)).toDF("k", "part", "v"), Seq("k"))
    assert(rows(TxLog.read(spark, path)) ==
      Set((1L, "01", 1.0), (2L, "a b", 22.0), (3L, "01", 3.0)))
    val m2 = TxLog.manifest(spark, path, 2L)
    val m1 = TxLog.manifest(spark, path, 1L)
    assert(m2.files.toSet.intersect(
      m1.files.filter(_.startsWith("part=a%20b/")).toSet).isEmpty,
      "escaped partition's old files survived the merge (stale rows)")
  }

  test("mergeInto fails loudly on null partition values instead of corrupting the rewrite set") {
    val path = freshPath("nullpart")
    TxLog.create(fixture, path, Some("part"))
    val nullUpd = Seq((1L, null.asInstanceOf[String], 9.0)).toDF("k", "part", "v")
    intercept[IllegalArgumentException] {
      TxLog.mergeInto(path, nullUpd, Seq("k"))
    }
  }

  test("mergeInto's fused validation still catches each violation class (r18 one-job probe)") {
    // the null-partition probe and the duplicate-key probe fused into
    // one aggregate — both error classes must still fire, null first
    val path = freshPath("fusedval")
    TxLog.create(fixture, path, Some("part"))
    val dupUpd = Seq((1L, "p1", 9.0), (1L, "p1", 8.0)).toDF("k", "part", "v")
    val eDup = intercept[IllegalArgumentException] {
      TxLog.mergeInto(path, dupUpd, Seq("k"))
    }
    assert(eDup.getMessage.contains("duplicate update rows") &&
      eDup.getMessage.contains("(k)=(1)"), s"wrong failure: ${eDup.getMessage}")
    // a batch violating BOTH reports the null-partition error (the
    // order the formerly-separate probes checked in)
    val both = Seq((2L, null.asInstanceOf[String], 1.0),
      (3L, "p1", 1.0), (3L, "p1", 2.0)).toDF("k", "part", "v")
    val eBoth = intercept[IllegalArgumentException] {
      TxLog.mergeInto(path, both, Seq("k"))
    }
    assert(eBoth.getMessage.contains("null part"),
      s"wrong failure: ${eBoth.getMessage}")
    // a clean batch still merges (the fused probe admits it untouched)
    TxLog.mergeInto(path, Seq((1L, "p1", 99.0)).toDF("k", "part", "v"), Seq("k"))
    assert(TxLog.read(spark, path).filter(col("k") === 1L)
      .select("v").head().getDouble(0) == 99.0)
  }

  test("batch replay detection survives interleaved maintenance commits (watermark carry)") {
    val path = freshPath("wm")
    TxLog.create(fixture, path, Some("part"))
    val b7 = Seq((10L, "p1", 10.0)).toDF("k", "part", "v")
    TxLog.appendBatch(b7, path, batchId = 7L)
    val want = rows(TxLog.read(spark, path))
    // maintenance commits between the batch and its crash-replay: the
    // watermark must carry forward through both
    (0 until 3).foreach { i =>
      TxLog.append(Seq((20L + i, "p1", i.toDouble)).toDF("k", "part", "v"), path)
    }
    TxLog.compact(spark, path, targetBytesPerFile = 1L << 30)
    val v = TxLog.currentVersion(spark, path).get
    val wantAfter = rows(TxLog.read(spark, path))
    assert(TxLog.appendBatch(b7, path, batchId = 7L) == v,
      "replayed batch slipped past an interleaved maintenance commit")
    assert(rows(TxLog.read(spark, path)) == wantAfter)
    val _ = want
  }

  test("a second commit of the same version fails loudly (optimistic concurrency)") {
    val path = freshPath("occ")
    TxLog.create(fixture, path, Some("part"))
    intercept[IllegalArgumentException] {
      TxLog.create(fixture, path, Some("part"))
    }
  }

  test("compact with zorderBy: OPTIMIZE ZORDER commits atomically and localizes range scans") {
    val path = freshPath("zopt")
    // 64x64 grid scattered across 16 round-robin files: every file
    // holds rows from every x-band, the layout z-order must fix
    val grid = spark.range(4096).select(
      col("id").as("k"), (col("id") % 64).as("x"),
      floor(col("id") / 64).cast("long").as("y"))
    TxLog.create(grid.repartition(16), path, None)
    def touchedBy(v: Long): (Int, Int) = {
      val files = TxLog.manifest(spark, path, v).files
      (files.count(f => spark.read.parquet(s"$path/data/$f")
        .filter(col("x") < 8).limit(1).collect().nonEmpty), files.size)
    }
    val (t1, n1) = touchedBy(1L)
    assert(t1 == n1, "round-robin layout should spread the band everywhere")
    assert(TxLog.compact(spark, path, targetBytesPerFile = 2048,
      zorderBy = Seq("x", "y")) == 2L)
    // content row-identical, snapshot semantics intact
    val key = (df: org.apache.spark.sql.DataFrame) =>
      df.select("k", "x", "y").as[(Long, Long, Long)].collect().toSet
    assert(key(TxLog.read(spark, path)) == key(grid))
    assert(key(TxLog.read(spark, path, Some(1L))) == key(grid))
    // the x < 8 band now lives in a minority of the z-ordered files
    val (t2, n2) = touchedBy(2L)
    assert(n2 > 2, s"fixture should compact into several files, got $n2")
    assert(t2 * 2 <= n2, s"z-order left the band spread over $t2/$n2 files")
    // THREE-column ZORDER: the SQL verb parses the list and the N-dim
    // generalization executes — content identical, commit lands.
    // (Clustering QUALITY per dimension is zorderedFrameN's own spec.)
    val v3 = graft.tools.Sql.exec(spark,
      s"TXLOG OPTIMIZE '$path' ZORDER BY x, y, k").head().getLong(0)
    assert(v3 == 3L, s"3-col ZORDER committed v$v3")
    assert(key(TxLog.read(spark, path)) == key(grid), "3-col zorder changed content")
  }

  test("schema evolution: additive widen on append, typed nulls for history, pinned reads keep their schema") {
    val path = freshPath("evolve")
    TxLog.create(fixture, path, Some("part"))
    val extra = Seq((7L, "p1", 70.0, "new")).toDF("k", "part", "v", "tag")
    // extra column without opt-in = silent data loss -> loud failure
    val e1 = intercept[IllegalArgumentException] { TxLog.append(extra, path) }
    assert(e1.getMessage.contains("evolveSchema"))
    assert(TxLog.append(extra, path, evolveSchema = true) == 2L)
    val v2 = TxLog.read(spark, path)
    assert(v2.columns.toSeq == Seq("k", "part", "v", "tag"))
    val byK = v2.select("k", "tag").as[(Long, Option[String])].collect().toMap
    assert(byK(7L).contains("new") && byK(1L).isEmpty,
      "historical rows must read the new column as null")
    // the pinned read of v1 still has v1's own schema
    assert(TxLog.read(spark, path, Some(1L)).columns.toSeq == Seq("k", "part", "v"))
    // retyping a column is never evolution
    val retyped = Seq((8L, "p1", "oops")).toDF("k", "part", "v")
    val e2 = intercept[IllegalArgumentException] {
      TxLog.append(retyped, path, evolveSchema = true)
    }
    assert(e2.getMessage.contains("type conflict"))
    // merge can evolve too: updates carry the widened row shape
    val up = Seq((1L, "p1", 11.0, "upd", 5L)).toDF("k", "part", "v", "tag", "extra2")
    assert(TxLog.mergeInto(path, up, Seq("k"), evolveSchema = true) == 3L)
    val v3 = TxLog.read(spark, path)
    assert(v3.columns.toSeq == Seq("k", "part", "v", "tag", "extra2"))
    val r1 = v3.filter(col("k") === 1L)
      .select("v", "tag", "extra2").as[(Double, String, Option[Long])].head()
    assert(r1 == ((11.0, "upd", Some(5L))))
    assert(v3.filter(col("k") === 2L).select("extra2").as[Option[Long]].head().isEmpty)
  }

  test("deleteWhere: only matching partitions rewrite, emptied partitions drop, old versions keep the rows") {
    val path = freshPath("delete")
    TxLog.create(fixture, path, Some("part"))
    val before = TxLog.manifest(spark, path, 1L).files
    // no match -> same version, nothing written
    assert(TxLog.deleteWhere(spark, path, col("k") === 999L) == 1L)
    // delete one row of p1 and ALL of p3
    assert(TxLog.deleteWhere(spark, path,
      col("k") === 1L || col("part") === "p3") == 2L)
    assert(rows(TxLog.read(spark, path)) ==
      Set((2L, "p1", 20.0), (3L, "p2", 30.0), (4L, "p2", 40.0)))
    val m2 = TxLog.manifest(spark, path, 2L)
    assert(!m2.files.exists(_.startsWith("part=p3/")), "emptied partition must drop")
    // p2 untouched: files carried by reference
    val p2files = before.filter(_.startsWith("part=p2/"))
    assert(p2files.nonEmpty && p2files.forall(m2.files.contains))
    // time travel still sees the deleted rows
    assert(rows(TxLog.read(spark, path, Some(1L))) == rows(fixture))
    // NULL condition rows are kept (SQL DELETE semantics)
    val path2 = freshPath("delnull")
    TxLog.create(Seq((1L, "p1", Some(1.0)), (2L, "p1", None: Option[Double]))
      .toDF("k", "part", "v"), path2, Some("part"))
    TxLog.deleteWhere(spark, path2, col("v") > 0.0)
    assert(TxLog.read(spark, path2).select("k").as[Long].collect().toSeq == Seq(2L))
  }

  test("data skipping: range reads plan only the files whose stats admit a match") {
    val path = freshPath("skip")
    // range-clustered layout: 8 files with disjoint k ranges, so file
    // stats are actually selective (the zorder/compact story's payoff)
    val df = spark.range(8000).select(col("id").as("k"), (col("id") % 97).as("v"))
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    TxLog.create(df, path, None, statsCols = Seq("k"))
    val m1 = TxLog.manifest(spark, path, 1L)
    assert(m1.files.size == 8, s"expected 8 files, got ${m1.files.size}")
    assert(m1.fileStats.keySet == m1.files.toSet, "every file carries stats")
    val pruned = TxLog.prunedFiles(spark, path, "k", 1000L, 1100L)
    assert(pruned.size <= 2, s"pruning kept ${pruned.size} of 8 files")
    // pruned read ≡ full read + filter, exactly
    val viaSkip = TxLog.readBetween(spark, path, "k", 1000L, 1100L)
      .agg(count(lit(1)), sum("v")).head()
    val viaFull = TxLog.read(spark, path).filter(col("k").between(1000L, 1100L))
      .agg(count(lit(1)), sum("v")).head()
    assert(viaSkip == viaFull, s"$viaSkip vs $viaFull")
    // appends extend the skip index; carried files keep their entries
    TxLog.append(spark.range(8000, 9000)
      .select(col("id").as("k"), (col("id") % 97).as("v")).repartition(1), path)
    val m2 = TxLog.manifest(spark, path, 2L)
    assert(m2.fileStats.keySet == m2.files.toSet)
    assert(m1.files.forall(f => m2.fileStats(f) == m1.fileStats(f)),
      "carried files' stats changed")
    assert(TxLog.prunedFiles(spark, path, "k", 8500L, 8600L).size == 1,
      "the appended file alone should serve the new range")
    // untracked column: conservative full list, never a wrong prune
    assert(TxLog.prunedFiles(spark, path, "v", 0L, 1L).size == m2.files.size)
  }

  test("appendsSince: file-level increments reproduce the appends; a rewrite in range fails loudly") {
    val path = freshPath("inc")
    TxLog.create(fixture, path, Some("part"))
    val a2 = Seq((7L, "p1", 70.0), (8L, "p2", 80.0)).toDF("k", "part", "v")
    val a3 = Seq((9L, "p3", 90.0)).toDF("k", "part", "v")
    TxLog.append(a2, path)
    TxLog.append(a3, path)
    // v1 -> head: exactly the two appended batches, no base rows
    assert(rows(TxLog.appendsSince(spark, path, 1L)) == rows(a2) ++ rows(a3))
    // v2 -> v3 pinned range: just the second batch
    assert(rows(TxLog.appendsSince(spark, path, 2L, Some(3L))) == rows(a3))
    // base ∪ increments == head: the relay invariant
    assert(rows(TxLog.read(spark, path, Some(1L))) ++
      rows(TxLog.appendsSince(spark, path, 1L)) == rows(TxLog.read(spark, path)))
    // a merge rewrites files -> file-level increments are no longer
    // row-accurate and the call must refuse
    TxLog.mergeInto(path, Seq((1L, "p1", -1.0)).toDF("k", "part", "v"), Seq("k"))
    assertThrows[IllegalArgumentException] {
      TxLog.appendsSince(spark, path, 1L)
    }
    // ...but a range that stayed append-only still serves
    assert(rows(TxLog.appendsSince(spark, path, 2L, Some(3L))) == rows(a3))
  }

  test("restore: zero-copy rollback commit; undone versions stay time-travelable; watermark carries") {
    val path = freshPath("restore")
    TxLog.create(fixture, path, Some("part"))
    val updates = Seq((2L, "p1", 99.0), (7L, "p3", 70.0)).toDF("k", "part", "v")
    TxLog.mergeInto(path, updates, Seq("k"))
    // a batch append moves the streaming watermark before the rollback
    TxLog.appendBatch(Seq((8L, "p2", 80.0)).toDF("k", "part", "v"), path, batchId = 5L)
    assert(TxLog.restore(spark, path, 1L) == 4L)
    // head now reads exactly v1, via v1's exact file entries (no copy)
    assert(rows(TxLog.read(spark, path)) == rows(fixture))
    assert(TxLog.manifest(spark, path, 4L).files.toSet ==
      TxLog.manifest(spark, path, 1L).files.toSet, "restore copied data files")
    // the undone merge is still pinned-readable until vacuum
    assert(rows(TxLog.read(spark, path, Some(2L)))
      .exists(r => r == ((2L, "p1", 99.0))))
    // the batch watermark survived the rollback: replaying batch 5 is a no-op
    assert(TxLog.appendBatch(Seq((9L, "p1", 90.0)).toDF("k", "part", "v"),
      path, batchId = 5L) == 4L)
    assert(rows(TxLog.read(spark, path)) == rows(fixture))
  }

  test("applyChanges: replaying a CDF onto a replica of v_from reproduces v_to; untouched files carry") {
    val src = freshPath("cdc_src")
    val rep = freshPath("cdc_rep")
    TxLog.create(fixture, src, Some("part"))
    // replica starts at the source's v1
    TxLog.create(TxLog.read(spark, src, Some(1L)), rep, Some("part"))
    val repUntouched = TxLog.manifest(spark, rep, 1L).files
      .filterNot(_.startsWith("part=p1/"))
    // source evolves: update k=2 (p1), insert k=7 (p1), delete k=1 (p1)
    TxLog.mergeInto(src,
      Seq((2L, "p1", 99.0), (7L, "p1", 70.0)).toDF("k", "part", "v"), Seq("k"))
    TxLog.deleteWhere(spark, src, col("k") === 1L)
    val feed = TxLog.changes(spark, src, 1L, 3L, Seq("k"))
    assert(TxLog.applyChanges(rep, feed, Seq("k")) == 2L)
    assert(rows(TxLog.read(spark, rep)) == rows(TxLog.read(spark, src)),
      "replica diverged from source after CDF apply")
    // the p2/p3 partitions held no changed key: carried by reference
    assert(TxLog.manifest(spark, rep, 2L).files
      .filterNot(_.startsWith("part=p1/")).toSet == repUntouched.toSet,
      "untouched replica partitions were rewritten")
    // a duplicate-key feed fails loudly instead of applying twice
    val dupFeed = feed.unionByName(feed.limit(1))
    assertThrows[IllegalArgumentException] {
      TxLog.applyChanges(rep, dupFeed, Seq("k"))
    }
  }

  test("incremental MV: maintained aggregate equals the recompute across merge with group moves and delete") {
    import graft.storage.Mv
    val path = freshPath("mv")
    TxLog.create(fixture, path, Some("part"))
    val group = Seq("part"); val sums = Seq("v")
    var mv = Mv.aggregate(TxLog.read(spark, path, Some(1L)), group, sums)
    // k=2 repriced in place; k=3 MOVES p2 -> p1 (preimage must subtract
    // from p2); k=7 inserted into p3
    val upd = Seq((2L, "p1", 99.0), (3L, "p1", 30.0), (7L, "p3", 70.0))
      .toDF("k", "part", "v")
    TxLog.mergeInto(path, upd, Seq("k"))
    mv = Mv.applyDelta(mv,
      TxLog.changes(spark, path, 1L, 2L, Seq("k"), withPreimages = true),
      group, sums)
    // deleting everything in p3 must DROP the group from the view
    TxLog.deleteWhere(spark, path, col("part") === "p3")
    mv = Mv.applyDelta(mv,
      TxLog.changes(spark, path, 2L, 3L, Seq("k"), withPreimages = true),
      group, sums)
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    val recomputed = rowsOf(Mv.aggregate(TxLog.read(spark, path), group, sums))
    assert(rowsOf(mv) == recomputed, s"maintained ${rowsOf(mv)} vs $recomputed")
    assert(!rowsOf(mv).exists(_._1 == "p3"), "emptied group survived in the view")
    // a new-values-only feed must be rejected, not silently mis-applied
    val plain = TxLog.changes(spark, path, 1L, 2L, Seq("k"))
    assertThrows[Exception] {
      Mv.applyDelta(Mv.aggregate(TxLog.read(spark, path, Some(1L)), group, sums),
        plain, group, sums).collect()
    }
  }

  test("replacePartitions: atomic partition overwrite; untouched partitions carry by reference; strays refuse") {
    val path = freshPath("replace")
    TxLog.create(fixture, path, Some("part"))
    val m1 = TxLog.manifest(spark, path, 1L)
    // replace p1 (2 rows → 1 new row) and EMPTY p3 in the same commit
    val v2 = TxLog.replacePartitions(
      Seq((8L, "p1", 80.0)).toDF("k", "part", "v"), path, Seq("p1", "p3"))
    assert(v2 == 2L)
    assert(rows(TxLog.read(spark, path)) ==
      Set((8L, "p1", 80.0), (3L, "p2", 30.0), (4L, "p2", 40.0)),
      "p1 replaced, p3 emptied, p2 untouched")
    // untouched partition files are the SAME entries, not rewrites
    val m2 = TxLog.manifest(spark, path, 2L)
    val p2files = (m: TxLog.Manifest) => m.files.filter(_.startsWith("part=p2/")).toSet
    assert(p2files(m2) == p2files(m1), "p2 must carry by reference")
    // time travel still serves the pre-replace content
    assert(rows(TxLog.read(spark, path, Some(1L))) == rows(fixture))
    // a row outside the named partitions refuses loudly
    val e = intercept[IllegalArgumentException] {
      TxLog.replacePartitions(
        Seq((9L, "p2", 90.0)).toDF("k", "part", "v"), path, Seq("p1"))
    }
    assert(e.getMessage.contains("outside the named"), e.getMessage)
    // NULL partition values can't sneak into the default partition
    val eNull = intercept[IllegalArgumentException] {
      TxLog.replacePartitions(
        Seq((10L, null.asInstanceOf[String], 1.0)).toDF("k", "part", "v"),
        path, Seq("p1"))
    }
    assert(eNull.getMessage.contains("outside the named"), eNull.getMessage)
    // the SQL verb drives the same path
    spark.sql("SELECT 11 AS k, 'p2' AS part, 1.5 AS v")
      .createOrReplaceTempView("repl_src")
    val v3 = graft.tools.Sql.exec(spark,
      s"TXLOG REPLACE INTO '$path' PARTITIONS ('p2') " +
        "SELECT CAST(k AS BIGINT) AS k, part, CAST(v AS DOUBLE) AS v FROM repl_src")
      .head().getLong(0)
    assert(v3 == 3L)
    assert(rows(TxLog.read(spark, path)) ==
      Set((8L, "p1", 80.0), (11L, "p2", 1.5)))
  }

  test("changes (CDF): insert/update/delete diff between versions, aligned across evolution") {
    val path = freshPath("cdf")
    TxLog.create(fixture, path, Some("part"))
    val up = Seq((2L, "p1", 99.0), (7L, "p3", 70.0)).toDF("k", "part", "v")
    TxLog.mergeInto(path, up, Seq("k"))                    // v2: update 2, insert 7
    TxLog.deleteWhere(spark, path, col("k") === 5L)        // v3: delete 5
    val d12 = TxLog.changes(spark, path, 1L, 2L, Seq("k"))
      .select("k", "part", "v", "_change_type")
      .as[(Long, String, Double, String)].collect().toSet
    assert(d12 == Set((2L, "p1", 99.0, "update"), (7L, "p3", 70.0, "insert")), d12.toString)
    val d23 = TxLog.changes(spark, path, 2L, 3L, Seq("k"))
      .select("k", "part", "v", "_change_type")
      .as[(Long, String, Double, String)].collect().toSet
    assert(d23 == Set((5L, "p3", 50.0, "delete")), "delete carries the LAST values")
    // spanning versions nets out: 1 -> 3 shows all three changes at once
    val d13 = TxLog.changes(spark, path, 1L, 3L, Seq("k"))
      .select("k", "_change_type").as[(Long, String)].collect().toSet
    assert(d13 == Set((2L, "update"), (7L, "insert"), (5L, "delete")))
    // across evolution: the pre-evolution snapshot aligns to the newer
    // schema with typed nulls, so unchanged rows (null tag on both
    // sides) produce NO spurious updates — only the real insert shows
    val evolved = Seq((8L, "p2", 80.0, "tagged")).toDF("k", "part", "v", "tag")
    TxLog.append(evolved, path, evolveSchema = true)       // v4
    val d34 = TxLog.changes(spark, path, 3L, 4L, Seq("k"))
      .select("k", "tag", "_change_type").as[(Long, Option[String], String)]
      .collect().toSet
    assert(d34 == Set((8L, Some("tagged"), "insert")), d34.toString)
  }

  test("history: one metadata row per version, add/remove counts tell the commit kind") {
    val path = freshPath("hist")
    TxLog.create(fixture, path, Some("part"))                       // v1
    TxLog.append(Seq((7L, "p1", 70.0)).toDF("k", "part", "v"), path) // v2
    TxLog.mergeInto(path,
      Seq((2L, "p1", 99.0)).toDF("k", "part", "v"), Seq("k"))        // v3
    val h = TxLog.history(spark, path).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))).toMap
    assert(h.keySet == Set(1L, 2L, 3L))
    val (n1, b1, a1, r1) = h(1L)
    assert(a1 == n1 && r1 == 0 && b1 > 0, s"create row: ${h(1L)}")
    val (n2, _, a2, r2) = h(2L)
    assert(n2 == n1 + a2 && r2 == 0 && a2 >= 1, s"append row: ${h(2L)}")
    // the merge rewrote partition p1: it must both add and remove
    val (_, _, a3, r3) = h(3L)
    assert(a3 >= 1 && r3 >= 1, s"merge row should add AND drop: ${h(3L)}")
  }

  test("fastCount: metadata-only COUNT tracks create/append/merge/delete, zero jobs") {
    val path = freshPath("fastcount")
    TxLog.create(fixture, path, Some("part"))
    assert(TxLog.fastCount(spark, path).contains(6L))
    TxLog.append(Seq((7L, "p1", 70.0)).toDF("k", "part", "v"), path)
    assert(TxLog.fastCount(spark, path).contains(7L))
    TxLog.mergeInto(path,
      Seq((2L, "p1", 99.0), (8L, "p2", 80.0)).toDF("k", "part", "v"), Seq("k"))
    assert(TxLog.fastCount(spark, path).contains(8L))
    TxLog.deleteWhere(spark, path, col("k") === 1L)
    assert(TxLog.fastCount(spark, path).contains(7L))
    // version-pinned counts reach back through history
    assert(TxLog.fastCount(spark, path, Some(1L)).contains(6L))
    // metadata-only: no Spark job may run for the count
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val n = TxLog.fastCount(spark, path)
      Thread.sleep(500) // let any (unexpected) job-start events drain
      assert(n.contains(7L) && jobs == 0, s"fastCount ran $jobs jobs")
    } finally spark.sparkContext.removeSparkListener(listener)
    // the sum must equal the real count
    assert(TxLog.read(spark, path).count() == 7L)
  }

  /** k = 0..399 over partitions 0..3 in 40 files: above Spark's
    * 32-path parallel-listing threshold, so a read planned from the
    * file list as paths would stat them in a listing JOB. */
  private def fortyFileTable(tag: String): String = {
    val path = freshPath(tag)
    TxLog.create(spark.range(0, 400).select(col("id").as("k"),
      (col("id") % 4).cast("string").as("part"), (col("id") * 0.5).as("v"))
      .repartition(10, col("k")), path, Some("part"), statsCols = Seq("k"))
    val m = TxLog.manifest(spark, path, TxLog.currentVersion(spark, path).get)
    assert(m.files.size == 40, s"fixture wants 40 files, got ${m.files.size}")
    path
  }

  /** Build read, readWithPosition and readBetween(k in 100..199) of
    * `path`, asserting that building them started no Spark job. */
  private def buildReadsWithoutJobs(path: String)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    var jobs = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          s: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs += 1
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val built = (TxLog.read(spark, path), TxLog.readWithPosition(spark, path),
        TxLog.readBetween(spark, path, "k", 100L, 199L))
      Thread.sleep(500) // let any (unexpected) job-start events drain
      assert(jobs == 0, s"building the three reads ran $jobs jobs")
      built
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("building a read runs no Spark job: read, readWithPosition, readBetween over a 40-file version") {
    val (plain, withPos, between) = buildReadsWithoutJobs(fortyFileTable("nojob"))
    assert(plain.count() == 400L)
    assert(withPos.select("_file", "_pos").distinct().count() == 400L)
    assert(between.count() == 100L)
  }

  test("building a read of a snapshot with a deletion vector runs no Spark job") {
    // the DV sidecar is read with its fixed schema: no inference job
    val path = fortyFileTable("nojob_dv")
    TxLog.deleteWhere(spark, path, col("k").between(150L, 159L), deletionVectors = true)
    assert(TxLog.manifest(spark, path, TxLog.currentVersion(spark, path).get).dv.nonEmpty)
    val (plain, withPos, between) = buildReadsWithoutJobs(path)
    assert(plain.count() == 390L)
    assert(withPos.select("_file", "_pos").distinct().count() == 390L)
    assert(between.count() == 90L)
  }

  test("fastCount + stats survive %-escaped partition values (URI decode fallback)") {
    // ':' is Hive-escaped to %3A in the partition dir name; the scan's
    // input_file_name re-encodes '%' as %25, so without the decode
    // fallback collectStats keys rows/stats under a name no manifest
    // entry matches — silently disabling fastCount and skip pruning
    // for the file (review finding)
    val path = freshPath("escpart")
    val rows = Seq((1L, "a:b", 10.0), (2L, "a:b", 20.0), (3L, "plain", 30.0))
      .toDF("k", "part", "v")
    TxLog.create(rows, path, Some("part"), statsCols = Seq("k"))
    assert(TxLog.fastCount(spark, path).contains(3L),
      "row counts must key back to the escaped manifest entries")
    val m = TxLog.manifest(spark, path, 1L)
    assert(m.files.nonEmpty && m.files.forall(m.fileStats.contains),
      s"every file must carry stats, got ${m.fileStats.keySet} for ${m.files}")
    assert(TxLog.read(spark, path).count() == 3L)
  }

  test("bloom index survives OPTIMIZE: rebuild after compact restores pruning, vacuum GCs stale sidecars") {
    val path = freshPath("bloomopt")
    // many tiny files so compact has work; ids interleaved as in the
    // bloom spec so only sidecars can prune a point lookup
    val ids = (0L until 256L).map(i => java.lang.Long.reverse(i) >>> 56)
    import spark.implicits._
    val df = ids.zipWithIndex.map { case (id, i) => (id, i % 16) }
      .toDF("id", "bucket").repartitionByRange(16, col("bucket")).drop("bucket")
    TxLog.create(df, path, statsCols = Seq("id"))
    assert(TxLog.buildBloomIndex(spark, path, "id") == 16)
    val before = TxLog.prunedFilesByKey(spark, path, "id", 77L)
    assert(before.size < 16)
    // OPTIMIZE rewrites everything into fewer files: the NEW files
    // have no sidecars yet, so pruning degrades to conservative-keep
    // (correct, just unpruned) until the incremental rebuild runs
    TxLog.compact(spark, path, targetBytesPerFile = 1L << 30)
    val n2 = TxLog.manifest(spark, path,
      TxLog.currentVersion(spark, path).get).files.size
    assert(n2 < 16, s"compact should shrink the file count, got $n2")
    val mid = TxLog.readByKey(spark, path, "id", 77L)
      .select("id").as[Long].collect().toSeq
    assert(mid == Seq(77L), "unindexed files must still answer correctly")
    // incremental rebuild indexes exactly the compacted files; vacuum
    // then drops the old files AND their now-dead sidecars
    assert(TxLog.buildBloomIndex(spark, path, "id") == n2)
    TxLog.vacuum(spark, path, keepVersions = 1)
    val after = TxLog.prunedFilesByKey(spark, path, "id", 77L)
    assert(after.size <= n2)
    val got = TxLog.readByKey(spark, path, "id", 77L)
      .select("id").as[Long].collect().toSeq
    assert(got == Seq(77L))
    val sidecars = new java.io.File(s"$path/_index/bloom/id")
      .listFiles.count(_.getName.endsWith(".bloom"))
    assert(sidecars == n2, s"vacuum left $sidecars sidecars for $n2 files")
  }

  test("shallow clone: zero-copy read, writes diverge, source untouched, merges drop carried refs") {
    val src = freshPath("clonesrc")
    TxLog.create(fixture, src, Some("part"))
    val tgt = freshPath("clonetgt")
    assert(TxLog.clone(spark, src, tgt) == 1L)
    // metadata-only: the clone's data dir holds NO parquet at all
    val tgtData = new java.io.File(s"$tgt/data")
    def parquetUnder(d: java.io.File): Seq[java.io.File] =
      if (!d.exists) Nil
      else d.listFiles.toSeq.flatMap(f =>
        if (f.isDirectory) parquetUnder(f) else Seq(f).filter(_.getName.endsWith(".parquet")))
    assert(parquetUnder(tgtData).isEmpty, "shallow clone copied data")
    assert(rows(TxLog.read(spark, tgt)) == rows(fixture))
    // append to the clone: clone advances, source does not
    TxLog.append(Seq((7L, "p1", 70.0)).toDF("k", "part", "v"), tgt)
    assert(rows(TxLog.read(spark, tgt)) == rows(fixture) + ((7L, "p1", 70.0)))
    assert(TxLog.currentVersion(spark, src).contains(1L))
    assert(rows(TxLog.read(spark, src)) == rows(fixture))
    // merge into the clone: exactly the BY-REFERENCE entries holding
    // the matched key drop (replaced by clone-local files) while every
    // other carried ref keeps pointing at the source byte-identically
    val mPre = TxLog.manifest(spark, tgt, TxLog.currentVersion(spark, tgt).get)
    TxLog.mergeInto(tgt, Seq((2L, "p1", 99.0)).toDF("k", "part", "v"), Seq("k"))
    val mTgt = TxLog.manifest(spark, tgt,
      TxLog.currentVersion(spark, tgt).get)
    val dropped = mPre.files.toSet.diff(mTgt.files.toSet)
    assert(dropped.nonEmpty && dropped.forall(f =>
        f.startsWith("/") && f.contains("part=p1")),
      s"merge should drop only carried p1 refs holding the key: $dropped")
    dropped.foreach { f =>
      assert(spark.read.parquet(f).filter(col("k") === 2L).count() == 1,
        s"dropped carried ref $f holds no matched key")
    }
    val (carried, local) = mTgt.files.partition(_.startsWith("/"))
    assert(carried.exists(_.contains("part=p2")) && carried.exists(_.contains("part=p3")),
      s"untouched partitions should still reference the source: $carried")
    assert(local.nonEmpty)
    val want = rows(fixture).filterNot(_._1 == 2L) ++
      Set((2L, "p1", 99.0), (7L, "p1", 70.0))
    assert(rows(TxLog.read(spark, tgt)) == want)
    // source data files all still exist (nothing under src was touched)
    assert(rows(TxLog.read(spark, src)) == rows(fixture))
    // the clone's vacuum never reaches outside its own directory:
    // drop the clone's history, then re-read both tables in full
    TxLog.vacuum(spark, tgt, keepVersions = 1)
    assert(rows(TxLog.read(spark, tgt)) == want)
    assert(rows(TxLog.read(spark, src)) == rows(fixture))
  }

  test("deep clone is self-contained: source deletion leaves it readable") {
    val src = freshPath("deepsrc")
    TxLog.create(fixture, src, Some("part"))
    val tgt = freshPath("deeptgt")
    TxLog.clone(spark, src, tgt, deep = true)
    val m = TxLog.manifest(spark, tgt, 1L)
    assert(m.files.forall(!_.startsWith("/")), s"deep clone left refs: ${m.files}")
    assert(rows(TxLog.read(spark, tgt)) == rows(fixture))
    // obliterate the source — the deep clone must not notice
    def rmrf(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rmrf)
      f.delete(); ()
    }
    rmrf(new java.io.File(src).getParentFile)
    assert(rows(TxLog.read(spark, tgt)) == rows(fixture))
  }

  test("bloom index: point lookup plans only the sidecar-admitted files; append extends incrementally") {
    val path = freshPath("bloom")
    // 8 files with disjoint id ranges but INTERLEAVED layout: ids are
    // bit-reversed so every file's (min,max) spans nearly the whole
    // domain — min/max stats cannot prune a point lookup, only the
    // Bloom sidecars can
    val ids = (0L until 512L).map(i =>
      java.lang.Long.reverse(i) >>> 55) // 9-bit reversal, values 0..511
    val df = ids.zipWithIndex
      .map { case (id, i) => (id, s"doc$id", i % 8) }
      .toDF("id", "body", "bucket")
      .repartitionByRange(8, col("bucket")).drop("bucket")
    TxLog.create(df, path, statsCols = Seq("id"))
    assert(TxLog.buildBloomIndex(spark, path, "id") == 8)
    // idempotent: nothing new to index
    assert(TxLog.buildBloomIndex(spark, path, "id") == 0)
    val m1 = TxLog.manifest(spark, path, 1L)
    val planned = TxLog.prunedFilesByKey(spark, path, "id", 137L)
    assert(planned.size < m1.files.size,
      s"bloom pruned nothing: ${planned.size} of ${m1.files.size}")
    val got = TxLog.readByKey(spark, path, "id", 137L)
      .select("id", "body").as[(Long, String)].collect().toSeq
    assert(got == Seq((137L, "doc137")))
    // a key that is nowhere: usually zero files plan (false positives
    // allowed), and the result is exactly empty either way
    assert(TxLog.readByKey(spark, path, "id", 100000L).isEmpty)
    // append a batch WITHOUT sidecars: its files are conservatively
    // kept until the next index build — never wrong, just unpruned
    TxLog.append(Seq((100000L, "new")).toDF("id", "body"), path)
    val gotNew = TxLog.readByKey(spark, path, "id", 100000L)
      .select("id", "body").as[(Long, String)].collect().toSeq
    assert(gotNew == Seq((100000L, "new")))
    // incremental: only the appended file gets a new sidecar
    assert(TxLog.buildBloomIndex(spark, path, "id") == 1)
    val all = TxLog.readByKey(spark, path, "id", 100000L)
      .select("id").as[Long].collect().toSeq
    assert(all == Seq(100000L))
  }
}
