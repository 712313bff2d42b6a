package graft.storage

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** COPY INTO — the idempotent file-loading verb: only never-seen
  * source files load, re-runs are no-ops, a rewritten file (changed
  * size/mtime identity) re-presents as new, and the data + ledger
  * appends land as ONE journaled transaction. */
class CopyIntoSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_copy_$tag").toString

  private def writeSrcFile(dir: String, name: String,
                           rows: Seq[(Long, Double)]): Unit = {
    val tmp = fresh("stage")
    rows.toDF("k", "v").coalesce(1).write.mode("overwrite").parquet(tmp)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)
    val part = new java.io.File(tmp).listFiles
      .find(_.getName.endsWith(".parquet")).get
    fs.mkdirs(new org.apache.hadoop.fs.Path(dir))
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(part.getPath),
      new org.apache.hadoop.fs.Path(dir, name))
  }

  test("COPY INTO loads each source file exactly once; re-runs are no-ops") {
    val table = fresh("tbl") + "/t"
    val src = fresh("src")
    TxLog.create(Seq((0L, 0.0)).toDF("k", "v"), table)
    writeSrcFile(src, "a.parquet", Seq((1L, 1.0), (2L, 2.0)))
    writeSrcFile(src, "b.parquet", Seq((3L, 3.0)))
    val (n1, v1) = CopyInto.copyInto(spark, table, src)
    assert(n1 == 2, s"first copy loaded $n1 files")
    assert(TxLog.read(spark, table).count() == 4L)
    // idempotent: nothing new, no commit
    val (n2, v2) = CopyInto.copyInto(spark, table, src)
    assert(n2 == 0 && v2 == TxLog.currentVersion(spark, table).get,
      s"re-run loaded $n2 files")
    assert(TxLog.read(spark, table).count() == 4L,
      "a re-run must not double-load")
    // ledger rows for files outside the listing (loaded from elsewhere,
    // since moved) leave the re-run a no-op
    TxLog.append(Seq(("file:/elsewhere/crawl-0.parquet", 1L, 1L))
      .toDF("file", "size", "mtime"), s"$table/_copy_into")
    val (n2b, _) = CopyInto.copyInto(spark, table, src)
    assert(n2b == 0, s"re-run over a grown ledger loaded $n2b files")
    // a NEW file loads alone
    writeSrcFile(src, "c.parquet", Seq((4L, 4.0)))
    val (n3, _) = CopyInto.copyInto(spark, table, src)
    assert(n3 == 1, s"incremental copy loaded $n3 files")
    assert(TxLog.read(spark, table).select("k").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L, 4L))
    // a REWRITTEN file (same name, new size/mtime identity) re-presents
    writeSrcFile(src, "b.parquet", Seq((30L, 30.0), (31L, 31.0)))
    val (n4, _) = CopyInto.copyInto(spark, table, src)
    assert(n4 == 1, s"rewritten file loaded $n4 files")
    assert(TxLog.read(spark, table).select("k").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L, 4L, 30L, 31L),
      "the rewritten file's NEW content loads (the old rows stay — " +
        "COPY INTO appends, it does not reconcile)")
    // loading an absent table refuses with nothing staged
    val e = intercept[IllegalArgumentException] {
      CopyInto.copyInto(spark, fresh("nope") + "/missing", src)
    }
    assert(e.getMessage.contains("EXISTING"), e.getMessage)
  }

  test("TXLOG COPY INTO verb: SQL spelling, schema vetting, ledger is transactional") {
    val table = fresh("sqltbl") + "/t"
    val src = fresh("sqlsrc")
    TxLog.create(Seq((0L, 0.0)).toDF("k", "v"), table)
    TxLog.addConstraint(spark, table, "v_pos", "v >= 0")
    writeSrcFile(src, "a.parquet", Seq((1L, 1.0)))
    val out = graft.tools.Sql.exec(spark,
      s"TXLOG COPY INTO '$table' FROM '$src'").head()
    assert(out.getLong(0) == 1L, s"verb loaded ${out.getLong(0)} files")
    assert(TxLog.read(spark, table).count() == 2L)
    // a file violating the table's CHECK refuses — and the LEDGER does
    // not record it (the journaled txn compensates), so a later fixed
    // run still sees the file as unloaded
    writeSrcFile(src, "bad.parquet", Seq((9L, -9.0)))
    intercept[Exception] {
      graft.tools.Sql.exec(spark, s"TXLOG COPY INTO '$table' FROM '$src'")
    }
    assert(TxLog.read(spark, table).count() == 2L,
      "a refused copy must land nothing")
    assert(TxLog.read(spark, s"$table/_copy_into")
      .filter(col("file").contains("bad")).count() == 0,
      "the ledger must not record a compensated load")
    // fix the file: the SAME run now loads it (identity changed)
    writeSrcFile(src, "bad.parquet", Seq((9L, 9.0)))
    val (n, _) = CopyInto.copyInto(spark, table, src)
    assert(n == 1)
    assert(TxLog.read(spark, table).filter(col("k") === 9L).count() == 1)
  }

  test("JSONL format: the {json,jsonl} listing glob and schema-vetted load") {
    val table = fresh("jsonl") + "/t"
    val src = fresh("jsonlsrc")
    TxLog.create(Seq((0L, 0.0)).toDF("k", "v"), table)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(src), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(src))
    def writeJsonl(name: String, lines: Seq[String]): Unit = {
      val out = fs.create(new org.apache.hadoop.fs.Path(src, name), true)
      out.write((lines.mkString("\n") + "\n").getBytes("UTF-8")); out.close()
    }
    writeJsonl("a.jsonl", Seq("""{"k": 1, "v": 1.0}""", """{"k": 2, "v": 2.0}"""))
    writeJsonl("b.json", Seq("""{"k": 3, "v": 3.0}"""))
    writeJsonl("ignored.txt", Seq("""{"k": 9, "v": 9.0}"""))
    val (n, _) = CopyInto.copyInto(spark, table, src, format = "jsonl")
    assert(n == 2, s"jsonl copy loaded $n files (expected .jsonl + .json)")
    assert(TxLog.read(spark, table).select("k").as[Long].collect().toSet ==
      Set(0L, 1L, 2L, 3L))
    val (n2, _) = CopyInto.copyInto(spark, table, src, format = "jsonl")
    assert(n2 == 0, "jsonl re-run must be a no-op")
  }

  test("crash between data and ledger commits: re-run compensates first, never double-loads") {
    val root = fresh("crash")
    val table = s"$root/t"
    val src = fresh("crashsrc")
    TxLog.create(Seq((0L, 0.0)).toDF("k", "v"), table)
    writeSrcFile(src, "a.parquet", Seq((1L, 1.0)))
    val (n1, _) = CopyInto.copyInto(spark, table, src)
    assert(n1 == 1)
    // simulate the crash window the r15 advice flagged: the DATA
    // append committed (head moved), the LEDGER append did not, and
    // the journal survived — exactly what a plain re-run used to
    // double-load
    writeSrcFile(src, "b.parquet", Seq((2L, 2.0)))
    val dataV = TxLog.append(Seq((2L, 2.0)).toDF("k", "v"), table)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(table), spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(table, "_txn"))
    val journal =
      s"""{"id": "cafebabe", "ts": 1, "entries": [
         |  {"path": "$table", "headBefore": ${dataV - 1}, "committed": $dataV},
         |  {"path": "$table/_copy_into", "headBefore": ${
            TxLog.currentVersion(spark, s"$table/_copy_into").get}}
         |]}""".stripMargin
    val out = fs.create(
      new org.apache.hadoop.fs.Path(table, "_txn/cafebabe.json"), true)
    out.write(journal.getBytes("UTF-8")); out.close()
    // the re-run compensates (rolls the half-landed data commit back),
    // then loads b.parquet exactly once
    val (n2, _) = CopyInto.copyInto(spark, table, src)
    TxLog.flushSnapshotCacheForTesting()
    assert(n2 == 1, s"re-run after crash loaded $n2 files")
    assert(TxLog.read(spark, table).filter(col("k") === 2L).count() == 1,
      "the crashed load's rows must appear EXACTLY once after the re-run")
  }

  test("PATTERN / FORCE / mergeSchema options") {
    val table = fresh("opts") + "/t"
    val src = fresh("optssrc")
    TxLog.create(Seq((0L, 0.0)).toDF("k", "v"), table)
    writeSrcFile(s"$src/day=1", "a.parquet", Seq((1L, 1.0)))
    writeSrcFile(s"$src/day=2", "b.parquet", Seq((2L, 2.0)))
    // PATTERN: only day=1 loads (glob over the source-relative path)
    val (n1, _) = CopyInto.copyInto(spark, table, src,
      pattern = Some("day=1/*.parquet"))
    assert(n1 == 1, s"pattern load took $n1 files")
    assert(TxLog.read(spark, table).select("k").as[Long].collect().toSet ==
      Set(0L, 1L))
    // widening the pattern loads ONLY the not-yet-seen file
    val (n2, _) = CopyInto.copyInto(spark, table, src,
      pattern = Some("day={1,2}/*.parquet"))
    assert(n2 == 1, s"widened pattern took $n2 files")
    // FORCE re-loads seen files; the ledger stays a SET (no dup rows)
    val before = TxLog.read(spark, s"$table/_copy_into").count()
    val (n3, _) = CopyInto.copyInto(spark, table, src, force = true)
    assert(n3 == 2, s"force re-loaded $n3 files")
    assert(TxLog.read(spark, table).filter(col("k") === 1L).count() == 2,
      "FORCE appends the seen file's rows again (the backfill-anyway switch)")
    assert(TxLog.read(spark, s"$table/_copy_into").count() == before,
      "FORCE must not duplicate ledger identities")
    // mergeSchema: an incoming file with a NEW column widens the table
    val stage = fresh("merge")
    Seq((9L, 9.0, "x")).toDF("k", "v", "tag").coalesce(1)
      .write.mode("overwrite").parquet(stage)
    val part = new java.io.File(stage).listFiles
      .find(_.getName.endsWith(".parquet")).get
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(src), spark.sparkContext.hadoopConfiguration)
    fs.copyFromLocalFile(new org.apache.hadoop.fs.Path(part.getPath),
      new org.apache.hadoop.fs.Path(s"$src/day=3", "c.parquet"))
    val (n4, _) = CopyInto.copyInto(spark, table, src,
      pattern = Some("day=3/*.parquet"), mergeSchema = true)
    assert(n4 == 1)
    val widened = TxLog.read(spark, table)
    assert(widened.columns.contains("tag"),
      "mergeSchema must route through the evolve machinery")
    assert(widened.filter(col("tag") === "x").count() == 1)
    assert(widened.filter(col("tag").isNull).count() == widened.count() - 1,
      "pre-widen rows read null for the new column")
  }

  test("CALL graft.system.copy_into: the catalog-native spelling") {
    val wh = fresh("wh")
    val prev = spark.conf.getOption("graft.catalog.warehouse")
    spark.conf.set("graft.catalog.warehouse", wh)
    try {
      spark.sql("CREATE TABLE graft.landing (k BIGINT, v DOUBLE)")
      val src = fresh("procsrc")
      writeSrcFile(src, "a.parquet", Seq((1L, 1.0), (2L, 2.0)))
      val row = spark.sql("CALL graft.system.copy_into(" +
        s"table => 'landing', source_dir => '$src')").head()
      assert(row.getLong(0) == 1L, s"loaded ${row.getLong(0)} files")
      assert(spark.sql("SELECT count(*) FROM graft.landing")
        .head().getLong(0) == 2L)
      // idempotent through the procedure door too
      assert(spark.sql("CALL graft.system.copy_into(" +
        s"table => 'landing', source_dir => '$src')").head().getLong(0) == 0L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS graft.landing")
      prev match {
        case Some(v) => spark.conf.set("graft.catalog.warehouse", v)
        case None => spark.conf.unset("graft.catalog.warehouse")
      }
    }
  }

  test("copy_into through a PURE V2 catalog name — no session-conf registry") {
    // a catalog carrying its OWN warehouse option: names resolve with
    // graft.catalog.warehouse entirely unset (the V2 door)
    val wh = fresh("v2wh")
    // force the session-conf registry key OFF for the test's duration —
    // the point is that the catalog's OWN warehouse suffices (the
    // shared-session suite may have left the conf set)
    val prevConf = spark.conf.getOption("graft.catalog.warehouse")
    prevConf.foreach(_ => spark.conf.unset("graft.catalog.warehouse"))
    spark.conf.set("spark.sql.catalog.g2", "graft.tables.GraftCatalog")
    spark.conf.set("spark.sql.catalog.g2.warehouse", wh)
    try {
      spark.sql("CREATE TABLE g2.drop_zone (k BIGINT, v DOUBLE)")
      val src = fresh("v2src")
      writeSrcFile(src, "a.parquet", Seq((1L, 1.0), (2L, 2.0)))
      val row = spark.sql("CALL g2.system.copy_into(" +
        s"table => 'drop_zone', source_dir => '$src')").head()
      assert(row.getLong(0) == 1L, s"loaded ${row.getLong(0)} files")
      assert(spark.sql("SELECT count(*) FROM g2.drop_zone")
        .head().getLong(0) == 2L)
      // an unregistered name refuses with the catalog's own message
      val e = intercept[Exception] {
        spark.sql("CALL g2.system.copy_into(" +
          s"table => 'nope', source_dir => '$src')").head()
      }
      assert(e.getMessage.contains("no registered table"), e.getMessage)
    } finally {
      spark.sql("DROP TABLE IF EXISTS g2.drop_zone")
      spark.conf.unset("spark.sql.catalog.g2.warehouse")
      spark.conf.unset("spark.sql.catalog.g2")
      prevConf.foreach(spark.conf.set("graft.catalog.warehouse", _))
    }
  }
}
