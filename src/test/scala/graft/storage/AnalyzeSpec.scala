package graft.storage

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** ANALYZE-time column NDV → cost-based optimization (r16 verdict #4).
  * [[Analyze]] persists per-column DataSketches HLL sketches beside
  * the table; [[graft.tables.GraftAnalysis]] mounts catalog reads with
  * CatalogStatistics (exact manifest rowCount minus DV deletes +
  * ANALYZEd distinctCount/nullCount), so `spark.sql.cbo.enabled` join
  * reordering has real inputs BEFORE the first shuffle — the decision
  * AQE can only retrofit after a stage has run. */
class AnalyzeSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_an_$tag").toString + "/t"

  test("full ANALYZE: NDV within sketch tolerance of exact; incremental merge ≡ recompute") {
    val path = fresh("ndv")
    TxLog.create(spark.range(0, 2000).select(col("id").as("k"),
      (col("id") % 37).as("cat")), path)
    val t1 = Analyze.analyze(spark, path)
    assert(math.abs(t1.cols("k").ndv - 2000L) <= 2000 * 0.05, t1.cols.toString)
    assert(t1.cols("cat").ndv == 37L, t1.cols.toString)
    // append-only refresh merges the stored sketches with ONLY the new
    // slice; the result must match a from-scratch recompute
    TxLog.append(spark.range(2000, 3000).select(col("id").as("k"),
      (col("id") % 41).as("cat")), path)
    val inc = Analyze.analyze(spark, path)
    assert(inc.analyzedVersion == 2L)
    // a sketch union is not bit-identical to a single-pass sketch
    // (merge order perturbs the estimator) — both must land within
    // the sketch tolerance of the TRUE count (3000 / 41)
    assert(math.abs(inc.cols("k").ndv - 3000L) <= 3000 * 0.05,
      s"incremental ${inc.cols}")
    assert(inc.cols("cat").ndv == 41L, inc.cols.toString)
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path, "_stats"), true)
    val full = Analyze.analyze(spark, path)
    assert(math.abs(full.cols("k").ndv - 3000L) <= 3000 * 0.05,
      s"full ${full.cols}")
    // rewrite history (a delete) cannot carry sketches: the next
    // ANALYZE silently recomputes and lands on the live values
    TxLog.deleteWhere(spark, path, col("k") < 1000L)
    val after = Analyze.analyze(spark, path)
    assert(math.abs(after.cols("k").ndv - 2000L) <= 2000 * 0.05,
      after.cols.toString)
  }

  test("DV-mode delete falls back to a full recompute (never throws)") {
    // r17 advice: the incremental eligibility checked only the FILE
    // set, but a deletion-vector delete changes rows without touching
    // it — the incremental path then hit appendsSince's
    // history-not-append-only refusal and CALL analyze failed outright.
    val path = fresh("dv")
    TxLog.create(spark.range(0, 1000).select(col("id").as("k")), path)
    assert(Analyze.analyze(spark, path).cols("k").ndv > 900L)
    TxLog.deleteWhere(spark, path, col("k") < 400L, deletionVectors = true)
    val after = Analyze.analyze(spark, path) // must not throw
    assert(after.analyzedVersion == 2L)
    assert(math.abs(after.cols("k").ndv - 600L) <= 600 * 0.05,
      after.cols.toString)
  }

  test("explicit-cols ANALYZE refreshes those columns without dropping the rest") {
    val path = fresh("cols")
    TxLog.create(spark.range(0, 500).select(col("id").as("k"),
      (col("id") % 13).as("cat"), (col("id") % 7).as("small")), path)
    val all = Analyze.analyze(spark, path)
    assert(all.cols.keySet == Set("k", "cat", "small"))
    TxLog.append(spark.range(500, 900).select(col("id").as("k"),
      (col("id") % 13).as("cat"), (col("id") % 7).as("small")), path)
    // incremental, scoped to one column: the OTHER columns must keep
    // their stats AND absorb the appends slice (the stored
    // analyzedVersion advances for the whole file)
    val one = Analyze.analyze(spark, path, cols = Seq("cat"))
    assert(one.analyzedVersion == 2L)
    assert(one.cols.keySet == Set("k", "cat", "small"),
      s"explicit-cols run dropped stats: ${one.cols.keySet}")
    assert(math.abs(one.cols("k").ndv - 900L) <= 900 * 0.05,
      s"carried column missed the appends slice: ${one.cols}")
    // rewrite history + explicit cols: full-recompute path must also
    // preserve (and refresh) the full stored column set
    TxLog.deleteWhere(spark, path, col("k") < 100L)
    val two = Analyze.analyze(spark, path, cols = Seq("small"))
    assert(two.cols.keySet == Set("k", "cat", "small"),
      s"full-recompute explicit-cols run dropped stats: ${two.cols.keySet}")
    assert(math.abs(two.cols("k").ndv - 800L) <= 800 * 0.05,
      two.cols.toString)
  }

  test("re-ANALYZE at an unchanged version is a no-op (no recompute, no rewrite)") {
    val path = fresh("noop")
    TxLog.create(spark.range(0, 300).select(col("id").as("k")), path)
    val first = Analyze.analyze(spark, path)
    val statsFile = new java.io.File(
      new java.net.URI(path).getPath + "/_stats/ndv.json")
    val mtime = statsFile.lastModified()
    Thread.sleep(20)
    val again = Analyze.analyze(spark, path)
    assert(again == first)
    assert(statsFile.lastModified() == mtime,
      "unchanged-version re-ANALYZE must not rewrite ndv.json")
  }

  test("DESCRIBE DETAIL surfaces analyzed_version and column_ndv") {
    val path = fresh("detail")
    TxLog.create(spark.range(0, 100).select(col("id").as("k")), path)
    val before = TxLog.detail(spark, path).head()
    assert(before.isNullAt(before.fieldIndex("analyzed_version")))
    Analyze.analyze(spark, path)
    val d = TxLog.detail(spark, path).head()
    assert(d.getLong(d.fieldIndex("analyzed_version")) == 1L)
    val ndv = d.getMap[String, Long](d.fieldIndex("column_ndv"))
    assert(ndv.contains("k") && math.abs(ndv("k") - 100L) <= 5, ndv.toString)
  }

  test("graft.autoAnalyze: appends refresh NDV automatically; DV deletes fall back clean") {
    val path = fresh("auto")
    TxLog.create(spark.range(0, 400).select(col("id").as("k")), path) // v1
    assert(Analyze.read(spark, path).isEmpty, "no stats before opt-in")
    TxLog.setProperties(spark, path,
      Map(TxLog.AutoAnalyzeProp -> "true"))                           // v2
    TxLog.append(spark.range(400, 700).select(col("id").as("k")), path) // v3
    val t3 = Analyze.read(spark, path)
    assert(t3.exists(_.analyzedVersion == 3L),
      s"append must auto-refresh stats, got $t3")
    assert(math.abs(t3.get.cols("k").ndv - 700L) <= 700 * 0.05,
      t3.get.cols.toString)
    // second append rides the incremental merge (append-only history)
    TxLog.append(spark.range(700, 1000).select(col("id").as("k")), path) // v4
    val t4 = Analyze.read(spark, path)
    assert(t4.exists(_.analyzedVersion == 4L), t4.toString)
    assert(math.abs(t4.get.cols("k").ndv - 1000L) <= 1000 * 0.05,
      t4.get.cols.toString)
    // a DV delete then an append: the refresh must recompute, not throw
    TxLog.deleteWhere(spark, path, col("k") < 500L,
      deletionVectors = true)                                         // v5
    TxLog.append(spark.range(1000, 1100).select(col("id").as("k")), path) // v6
    val t6 = Analyze.read(spark, path)
    assert(t6.exists(_.analyzedVersion == 6L), t6.toString)
    assert(math.abs(t6.get.cols("k").ndv - 600L) <= 600 * 0.05,
      t6.get.cols.toString)
  }

  test("renamed columns: a TxLog.read scan carries each NDV on its own column") {
    // TxLog.read scans in PHYSICAL names; NDVs are keyed by logical
    // ones. After x -> z and y -> x, logical x is physical y, and its
    // NDV must not land on physical x (which holds logical z).
    val path = fresh("rename")
    TxLog.create(spark.range(0, 1000).select(col("id").as("x"),
      (col("id") % 5).as("y")), path)
    TxLog.renameColumn(spark, path, "x", "z")
    TxLog.renameColumn(spark, path, "y", "x")
    val t = Analyze.analyze(spark, path)
    assert(t.cols("x").ndv == 5L, t.cols.toString)
    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val plan = TxLog.read(spark, path).queryExecution.optimizedPlan
      val scan = plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation => lr
      }
      assert(scan.size == 1, plan.toString)
      val ndv = scan.head.stats.attributeStats.map { case (a, s) =>
        a.name -> s.distinctCount.map(_.toLong) }
      assert(ndv.get("y").flatten.contains(5L), s"physical y holds logical x: $ndv")
      assert(ndv.get("x").flatten.exists(n => math.abs(n - 1000L) <= 50L),
        s"physical x holds logical z: $ndv")
      // and through the read's renaming projection, by logical name
      val top = plan.stats.attributeStats.map { case (a, s) =>
        a.name -> s.distinctCount.map(_.toLong) }
      assert(top.get("x").flatten.contains(5L), s"logical x: $top")
      assert(top.get("z").flatten.exists(n => math.abs(n - 1000L) <= 50L),
        s"logical z: $top")
    } finally spark.conf.unset("spark.sql.cbo.enabled")
  }

  test("CBO reorder flips through the PATH door too (format mounts carry the stats)") {
    // r17 verdict #4: format("graft-txlog").load(path) planned with
    // sizeInBytes alone — a path-addressed join got no NDV reorder
    // even on an ANALYZEd table. Same shape as the catalog-door pin,
    // all three tables mounted by PATH.
    val root = java.nio.file.Files.createTempDirectory("graft_an_pd").toString
    spark.range(0, 20000)
      .select(col("id").as("k"), (col("id") % 500).as("mid_k"),
        (col("id") % 5).as("dim_k"))
      .createOrReplaceTempView("pd_src")
    val fact = s"$root/pd_fact"; val mid = s"$root/pd_mid"
    val dim = s"$root/pd_dim"
    TxLog.create(spark.table("pd_src"), fact)
    TxLog.create(spark.sql(
      "SELECT DISTINCT mid_k AS k, mid_k % 7 AS attr FROM pd_src"), mid)
    TxLog.create(spark.sql(
      "SELECT DISTINCT dim_k AS k, dim_k * 10 AS tag FROM pd_src"), dim)
    def mount(p: String) = spark.read.format("graft-txlog")
      .option("path", p).load()
    def q() = mount(fact).as("f")
      .join(mount(mid).as("m"), col("f.mid_k") === col("m.k"))
      .join(mount(dim).as("d"), col("f.dim_k") === col("d.k"))
      .filter(col("m.attr") < 3 && col("d.tag") < 40)
      .agg(count(lit(1)).as("n"), sum(col("d.tag")).as("s"))
    def joinOrder(): Seq[String] =
      q().queryExecution.optimizedPlan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.catalogTable.map(_.identifier.table).getOrElse("?")
      }
    try {
      val noCbo = joinOrder()
      Seq(fact, mid, dim).foreach(p => Analyze.analyze(spark, p))
      val expected = q().collect().map(_.toString).toSeq
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val withCbo = joinOrder()
      val got = q().collect().map(_.toString).toSeq
      assert(got == expected, s"CBO changed RESULTS: $got vs $expected")
      assert(noCbo != withCbo,
        s"path-door stats must flip the join order: $noCbo == $withCbo")
      val stats = mount(fact).queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(20000)), stats.toString)
      assert(stats.attributeStats.nonEmpty,
        "attribute stats must attach through the path door")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
    }
  }

  test("CBO join reorder flips with ANALYZEd stats on; results identical") {
    val wh = java.nio.file.Files.createTempDirectory("graft_an_wh").toString
    spark.conf.set("graft.catalog.warehouse", wh)
    try {
      spark.range(0, 20000)
        .select(col("id").as("k"), (col("id") % 500).as("mid_k"),
          (col("id") % 5).as("dim_k"))
        .createOrReplaceTempView("cbo_src")
      spark.sql("CREATE TABLE graft.cbo_fact AS SELECT * FROM cbo_src")
      spark.sql("CREATE TABLE graft.cbo_mid AS " +
        "SELECT DISTINCT mid_k AS k, mid_k % 7 AS attr FROM cbo_src")
      spark.sql("CREATE TABLE graft.cbo_dim AS " +
        "SELECT DISTINCT dim_k AS k, dim_k * 10 AS tag FROM cbo_src")
      // deliberately bad written order: fact ⋈ mid first (500-row
      // build), then dim (5-row) — with stats the optimizer should
      // prefer a different shape than the written one
      val sql =
        """SELECT count(*) AS n, sum(d.tag) AS s
          |FROM graft.cbo_fact f
          |JOIN graft.cbo_mid m ON f.mid_k = m.k
          |JOIN graft.cbo_dim d ON f.dim_k = d.k
          |WHERE m.attr < 3 AND d.tag < 40""".stripMargin
      def joinOrder(): Seq[String] = {
        val plan = spark.sql(sql).queryExecution.optimizedPlan
        plan.collect {
          case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
            lr.catalogTable.map(_.identifier.table).getOrElse("?")
        }
      }
      val noCbo = joinOrder()
      spark.sql("CALL graft.system.analyze(table => 'cbo_fact')")
      spark.sql("CALL graft.system.analyze(table => 'cbo_mid')")
      spark.sql("CALL graft.system.analyze(table => 'cbo_dim')")
      val expected = spark.sql(sql).collect().map(_.toString).toSeq
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val withCbo = joinOrder()
      val got = spark.sql(sql).collect().map(_.toString).toSeq
      assert(got == expected, s"CBO changed RESULTS: $got vs $expected")
      assert(noCbo != withCbo,
        s"stats must flip the join order: $noCbo == $withCbo")
      // and the optimized plan actually carries our statistics
      val stats = spark.sql("SELECT * FROM graft.cbo_fact")
        .queryExecution.optimizedPlan.stats
      assert(stats.rowCount.contains(BigInt(20000)), stats.toString)
      assert(stats.attributeStats.nonEmpty, "attribute stats must attach")
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
      spark.sql("DROP TABLE IF EXISTS graft.cbo_fact")
      spark.sql("DROP TABLE IF EXISTS graft.cbo_mid")
      spark.sql("DROP TABLE IF EXISTS graft.cbo_dim")
      spark.conf.unset("graft.catalog.warehouse")
    }
  }
}
