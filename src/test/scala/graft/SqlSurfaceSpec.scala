package graft

import org.apache.spark.sql.functions._

import graft.gwas.GwasViews
import graft.queries.ReferenceQueries

/** The SQL front door: registered views must serve the same results as
  * the DataFrame API — the reference's app.R queries as one-liners. */
class SqlSurfaceSpec extends SparkSpec {
  import spark.implicits._

  test("oracle SQL for q_region_filter runs verbatim through the registered views") {
    graft.tools.Sql.registerAll(spark, sf)
    val viaSql = spark.sql(ReferenceQueries.oracles("q_region_filter")).collect()
    val viaDf = ReferenceQueries.entries("q_region_filter")(spark, sf).collect()
    assert(viaSql.length == viaDf.length && viaSql.nonEmpty)
    assert(viaSql.map(_.toString).toSeq == viaDf.map(_.toString).toSeq)
  }

  test("gwasDB views serve app.R's region and marker queries as SQL") {
    val b37 = Seq(
      ("1:100_A_T", 1, 100, "A", "T"),
      ("1:500_G_C", 1, 500, "G", "C"),
      ("2:100_A_G", 2, 100, "A", "G")
    ).toDF("kgp_id", "chr", "pos", "ref", "alt")
    val marker = Seq(("1:100_A_T", "rs100")).toDF("kgp_id", "marker_name")
    val study = Seq(
      (1, "ukbb_gout", "european", 1000L, 100L, 900L),
      (2, "kp_gout", "polynesian", 500L, 50L, 450L)
    ).toDF("id", "name", "ancestry", "n", "n_case", "n_control")
    val gwas = Seq(
      ("1:100_A_T", 1, 0.9, 5.5),
      ("1:500_G_C", 2, 0.95, 2.2),
      ("2:100_A_G", 1, 0.1, 1.0) // filtered by the view's impute QC
    ).toDF("kgp_id", "study_id", "impute_score", "neg_log10_p")
    GwasViews.register(spark, b37, marker, study, gwas)
    val region = spark.sql(GwasViews.regionSql(1, 50, 600))
      .select("kgp_id").as[String].collect().toSet
    assert(region == Set("1:100_A_T", "1:500_G_C"))
    val search = spark.sql(GwasViews.markerSearchSql("^1:"))
      .select("kgp_id").as[String].collect().toSet
    assert(search == Set("1:100_A_T", "1:500_G_C"))
    // the combined view carries the study join like the export view
    assert(spark.sql("SELECT DISTINCT name FROM combined WHERE name IS NOT NULL")
      .as[String].collect().toSet == Set("ukbb_gout", "kp_gout"))
    // app.R's facet_grid(ancestry ~ name) option: the facet dimensions
    // must group straight off the combined view
    val facets = spark.sql(
      """SELECT ancestry, name, count(*) AS n_hits
        |FROM combined GROUP BY ancestry, name ORDER BY ancestry, name""".stripMargin)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(facets == Seq(("european", "ukbb_gout", 1L), ("polynesian", "kp_gout", 1L)),
      s"facets were $facets")
  }

  test("marker search: the SQL form matches GwasOps.markerSearch on backslashes and quotes") {
    import graft.gwas.GwasOps
    val b37 = Seq(("1:12345_A_T", 1, 12345), ("1:123_A_G", 1, 123), ("it's", 2, 7),
      ("a\\b", 3, 9), ("ab", 3, 8)).toDF("kgp_id", "chr", "pos")
    b37.createOrReplaceTempView("b37") // the one view the search reads
    Seq("^1:\\d{5}" -> "1:12345_A_T", "it's" -> "it's", "a\\\\b" -> "a\\b").foreach {
      case (pattern, hit) =>
        val viaSql = spark.sql(GwasViews.markerSearchSql(pattern)).collect().toSeq
        val viaDf = GwasOps.markerSearch(b37, pattern).collect().toSeq
        assert(viaSql.map(_.getString(0)) == Seq(hit), s"pattern $pattern")
        assert(viaSql == viaDf, s"pattern $pattern")
    }
  }

  test("no_gwas_result view serves the persisted QC audit feed by its reference name") {
    import graft.gwas.GwasOps
    val dir = java.nio.file.Files.createTempDirectory("graft_nogwas_view").toString + "/no_gwas_result"
    val g = Seq(
      ("m1", 1, 0.9, 0.3), ("m2", 1, 0.1, 0.3), ("m3", 1, 0.9, 1e-6)
    ).toDF("kgp_id", "study_id", "impute_score", "maf_all")
    val (_, removed) = GwasOps.qcSplit(g)
    GwasOps.appendNoGwasResult(removed, dir)
    val b37 = Seq(("m1", 1, 1)).toDF("kgp_id", "chr", "pos")
    val marker = Seq(("m1", "rs1")).toDF("kgp_id", "marker_name")
    val study = Seq((1, "s", "european", 10L, 1L, 9L))
      .toDF("id", "name", "ancestry", "n", "n_case", "n_control")
    GwasViews.register(spark, b37, marker, study, g,
      noGwasResult = Some(GwasOps.readNoGwasResult(spark, dir)))
    val got = spark.sql("SELECT kgp_id, study_id FROM no_gwas_result ORDER BY kgp_id")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(got == Seq(("m2", 1), ("m3", 1)), s"view served $got")
  }

  private def sameAs(sql: String, api: org.apache.spark.sql.DataFrame,
                     name: String): Unit = {
    val viaSql = spark.sql(sql).collect().map(_.toString).toSeq
    val viaApi = api.collect().map(_.toString).toSeq
    assert(viaSql.nonEmpty, s"$name: SQL path returned no rows")
    assert(viaSql == viaApi,
      s"$name diverged: SQL ${viaSql.take(3)}... vs API ${viaApi.take(3)}...")
  }

  test("table functions serve the flagship operators as pure SQL, identical to the Scala API") {
    import graft.operators.{Dedup, Funnel, TextOps}
    import graft.tables.Tables
    graft.tools.Sql.registerAll(spark, sf)
    val events = Tables.events(spark, sf)
    val documents = Tables.table(spark, sf, "documents")
    sameAs("SELECT * FROM graft_funnel('events', 'view,click,purchase')",
      Funnel.funnel(events, Seq("view", "click", "purchase")), "graft_funnel")
    sameAs("SELECT * FROM graft_funnel('events', 'view,purchase', '2 hours')",
      Funnel.funnel(events, Seq("view", "purchase"), maxGap = Some("2 hours")),
      "graft_funnel(max_gap)")
    sameAs("SELECT * FROM graft_bm25('documents', 'data,model', 5)",
      TextOps.bm25(documents, Seq("data", "model"), k = 5), "graft_bm25")
    sameAs("SELECT * FROM graft_dedup_survivors('documents')",
      Dedup.exact(documents), "graft_dedup_survivors")
    sameAs("SELECT * FROM graft_langid('documents')",
      TextOps.langId(documents), "graft_langid")
    sameAs("SELECT * FROM graft_text_quality('documents')",
      TextOps.quality(documents), "graft_text_quality")
    // the TVF result is a real plan fragment: joins/filters compose around it
    val n = spark.sql(
      """SELECT count(*) AS n FROM graft_bm25('documents', 'data,model', 5) b
        |JOIN documents d ON b.doc_id = d.doc_id WHERE b.score > 0""".stripMargin)
      .head().getLong(0)
    assert(n > 0 && n <= 5, s"composed TVF join returned $n rows")
  }

  test("TXLOG verbs + time-travel TVFs close the transactional loop through SQL strings") {
    import graft.storage.TxLog
    import graft.tools.Sql
    graft.tools.Sql.registerAll(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_txlog").toString + "/t"
    val v1 = Sql.exec(spark,
      s"TXLOG CREATE '$dir' PARTITION BY r_regionkey AS " +
        "SELECT r_regionkey, r_name FROM region").head().getLong(0)
    assert(v1 == 1L, s"create committed v$v1")
    val v2 = Sql.exec(spark,
      s"TXLOG MERGE INTO '$dir' ON r_regionkey USING " +
        "SELECT r_regionkey, concat(r_name, '_m') AS r_name FROM region WHERE r_regionkey < 2")
      .head().getLong(0)
    assert(v2 == 2L, s"merge committed v$v2")
    // pure-SQL time travel ≡ the Scala snapshot reads
    sameAs(s"SELECT * FROM graft_txlog('$dir', 1) ORDER BY r_regionkey",
      TxLog.read(spark, dir, Some(1L)).orderBy("r_regionkey"), "graft_txlog@v1")
    sameAs(s"SELECT * FROM graft_txlog('$dir') ORDER BY r_regionkey",
      TxLog.read(spark, dir).orderBy("r_regionkey"), "graft_txlog@head")
    assert(spark.sql(
      s"SELECT count(*) AS n FROM graft_txlog('$dir') WHERE r_name LIKE '%\\_m'")
      .head().getLong(0) == 2L, "merged rows not visible through SQL")
    sameAs(s"SELECT * FROM graft_txlog_history('$dir')",
      TxLog.history(spark, dir), "graft_txlog_history")
    sameAs(s"SELECT * FROM graft_txlog_cdf('$dir', 1, 2, 'r_regionkey') ORDER BY r_regionkey",
      TxLog.changes(spark, dir, 1L, 2L, Seq("r_regionkey")).orderBy("r_regionkey"),
      "graft_txlog_cdf")
    val v3 = Sql.exec(spark, s"TXLOG RESTORE '$dir' TO VERSION 1").head().getLong(0)
    assert(v3 == 3L, s"restore committed v$v3")
    sameAs(s"SELECT * FROM graft_txlog('$dir') ORDER BY r_regionkey",
      TxLog.read(spark, dir, Some(1L)).orderBy("r_regionkey"), "post-restore head ≡ v1")
  }

  test("TXLOG maintenance verbs: APPEND, DELETE, OPTIMIZE, VACUUM through SQL strings") {
    import graft.storage.TxLog
    import graft.tools.Sql
    Sql.registerAll(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_txmaint").toString + "/t"
    Sql.exec(spark,
      s"TXLOG CREATE '$dir' PARTITION BY r_regionkey AS " +
        "SELECT r_regionkey, r_name FROM region")
    val v2 = Sql.exec(spark,
      s"TXLOG APPEND INTO '$dir' " +
        "SELECT CAST(r_regionkey + 100 AS INT) AS r_regionkey, " +
        "upper(r_name) AS r_name FROM region")
      .head().getLong(0)
    assert(v2 == 2L && TxLog.read(spark, dir).count() == 10L, "append did not land")
    val v3 = Sql.exec(spark,
      s"TXLOG DELETE FROM '$dir' WHERE r_regionkey >= 103").head().getLong(0)
    assert(v3 == 3L && TxLog.read(spark, dir).count() == 8L, "delete did not land")
    // several small commits left 1-file partitions; optimize is a no-op
    // below minFilesToCompact, so split one partition into two files
    // first via a second append into it
    Sql.exec(spark,
      s"TXLOG APPEND INTO '$dir' SELECT CAST(0 AS INT) AS r_regionkey, 'x' AS r_name")
    val vOpt = Sql.exec(spark, s"TXLOG OPTIMIZE '$dir'").head().getLong(0)
    assert(vOpt == 5L, s"optimize committed v$vOpt")
    assert(TxLog.read(spark, dir).count() == 9L, "optimize changed content")
    val freed = Sql.exec(spark, s"TXLOG VACUUM '$dir' RETAIN 1 VERSIONS")
      .head().getLong(0)
    assert(freed > 0L, "vacuum freed nothing after an optimize rewrite")
    assert(TxLog.read(spark, dir).count() == 9L, "vacuum broke the live snapshot")
  }

  test("VACUUM DRY RUN previews without deleting; graft_txlog_count is metadata-only") {
    import graft.storage.TxLog
    import graft.tools.Sql
    Sql.registerAll(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_vacdry").toString + "/t"
    Sql.exec(spark,
      s"TXLOG CREATE '$dir' PARTITION BY r_regionkey AS " +
        "SELECT r_regionkey, r_name FROM region")
    Sql.exec(spark,
      s"TXLOG APPEND INTO '$dir' SELECT r_regionkey, upper(r_name) AS r_name FROM region")
    Sql.exec(spark, s"TXLOG OPTIMIZE '$dir'") // leaves pre-optimize files dead at RETAIN 1
    val cnt = spark.sql(s"SELECT * FROM graft_txlog_count('$dir')").head()
    assert(cnt.getLong(0) == 10L && cnt.getBoolean(1),
      s"count must come from metadata alone: $cnt")
    assert(spark.sql(s"SELECT * FROM graft_txlog_count('$dir', 1)").head().getLong(0) == 5L)
    val preview = Sql.exec(spark, s"TXLOG VACUUM '$dir' RETAIN 1 VERSIONS DRY RUN")
      .collect().map(_.getString(0)).toSet
    assert(preview.nonEmpty, "optimize left no dead files?")
    // nothing was touched: version 1 still reads in full
    assert(TxLog.read(spark, dir, Some(1L)).count() == 5L,
      "DRY RUN must not delete anything")
    val freed = Sql.exec(spark, s"TXLOG VACUUM '$dir' RETAIN 1 VERSIONS")
      .head().getLong(0)
    assert(freed == preview.size.toLong,
      s"real vacuum deleted $freed files, dry run predicted ${preview.size}")
  }

  test("TXLOG OPTIMIZE PARTITIONS: the scoped compact rewrites only the named partition") {
    import graft.storage.TxLog
    import graft.tools.Sql
    Sql.registerAll(spark, sf)
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_optpart").toString + "/t"
    // two appends per partition -> every partition holds >= 2 files
    Sql.exec(spark,
      s"TXLOG CREATE '$dir' PARTITION BY r_regionkey AS " +
        "SELECT r_regionkey, r_name FROM region")
    Sql.exec(spark,
      s"TXLOG APPEND INTO '$dir' SELECT r_regionkey, lower(r_name) AS r_name FROM region")
    def filesPerDir(): Map[String, Int] = {
      val m = TxLog.manifest(spark, dir, TxLog.currentVersion(spark, dir).get)
      m.files.groupBy(_.split('/').head).view.mapValues(_.size).toMap
    }
    val before = filesPerDir()
    assert(before.values.forall(_ >= 2), s"setup: $before")
    Sql.exec(spark, s"TXLOG OPTIMIZE '$dir' PARTITIONS ('1')")
    val after = filesPerDir()
    assert(after("r_regionkey=1") == 1,
      s"named partition did not compact: $after")
    assert(before.filterNot(_._1 == "r_regionkey=1") ==
      after.filterNot(_._1 == "r_regionkey=1"),
      s"unnamed partitions must stay untouched: $before -> $after")
    assert(TxLog.read(spark, dir).count() == 10L, "content changed")
  }

  test("TXLOG CLONE verb: shallow head clone and deep version-pinned clone through SQL") {
    import graft.storage.TxLog
    import graft.tools.Sql
    Sql.registerAll(spark, sf)
    val base = java.nio.file.Files.createTempDirectory("graft_sql_clone").toString
    val src = s"$base/src"
    Sql.exec(spark,
      s"TXLOG CREATE '$src' PARTITION BY r_regionkey AS " +
        "SELECT r_regionkey, r_name FROM region")
    Sql.exec(spark,
      s"TXLOG APPEND INTO '$src' " +
        "SELECT CAST(r_regionkey + 100 AS INT) AS r_regionkey, " +
        "upper(r_name) AS r_name FROM region")
    // shallow clone of the head: same content, by-reference (no data dir copy)
    assert(Sql.exec(spark, s"TXLOG CLONE '$src' TO '$base/shallow'")
      .head().getLong(0) == 1L)
    assert(TxLog.read(spark, s"$base/shallow").count() == 10L)
    // deep clone pinned at v1: v1's content, physically copied
    assert(Sql.exec(spark, s"TXLOG CLONE '$src' TO '$base/deep' DEEP VERSION 1")
      .head().getLong(0) == 1L)
    assert(TxLog.read(spark, s"$base/deep").count() == 5L)
    assert(new java.io.File(s"$base/deep/data").exists(),
      "DEEP must materialize its own data directory")
  }

  test("graft_topk, graft_txlog_appends, graft_txlog_between: the operator TVF set widens") {
    import graft.storage.TxLog
    import graft.tables.Tables
    graft.tools.Sql.registerAll(spark, sf)
    // the custom physical operator through pure SQL ≡ the Scala API
    val li = Tables.table(spark, sf, "lineitem")
    sameAs(
      "SELECT * FROM graft_topk('lineitem', 'l_suppkey', 'l_extendedprice', 2) " +
        "ORDER BY l_suppkey, l_extendedprice, l_orderkey, l_linenumber, l_partkey",
      graft.plans.TopK.topKPerGroup(li, Seq(li("l_suppkey")),
        Seq(li("l_extendedprice").desc), 2)
        .orderBy("l_suppkey", "l_extendedprice", "l_orderkey", "l_linenumber", "l_partkey"),
      "graft_topk")
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_tvf2").toString + "/t"
    graft.tools.Sql.exec(spark,
      s"TXLOG CREATE '$dir' PARTITION BY r_regionkey AS " +
        "SELECT r_regionkey, r_name FROM region")
    graft.tools.Sql.exec(spark,
      s"TXLOG APPEND INTO '$dir' SELECT CAST(90 AS INT) AS r_regionkey, 'z' AS r_name")
    sameAs(s"SELECT * FROM graft_txlog_appends('$dir', 1) ORDER BY r_regionkey",
      TxLog.appendsSince(spark, dir, 1L).orderBy("r_regionkey"),
      "graft_txlog_appends")
    sameAs(s"SELECT * FROM graft_txlog_between('$dir', 'r_regionkey', 1, 3) ORDER BY r_regionkey",
      TxLog.readBetween(spark, dir, "r_regionkey", 1, 3).orderBy("r_regionkey"),
      "graft_txlog_between")
    assert(spark.sql(s"SELECT * FROM graft_txlog_between('$dir', 'r_regionkey', 90, 95)")
      .head().getString(1) == "z", "range read missed the appended row")
    // Bloom point-lookup read through SQL ≡ the Scala API
    TxLog.buildBloomIndex(spark, dir, "r_name")
    sameAs(s"SELECT * FROM graft_txlog_point('$dir', 'r_name', 'z')",
      TxLog.readByKey(spark, dir, "r_name", "z"), "graft_txlog_point")
  }

  test("TXLOG RENAME COLUMN verb and multi-column PARTITION BY through SQL strings") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_rename").toString + "/tbl"
    Seq((1L, "d1", 0, 1.0), (2L, "d2", 1, 2.0)).toDF("k", "d", "h", "v")
      .createOrReplaceTempView("sql_rename_src")
    graft.tools.Sql.exec(spark,
      s"TXLOG CREATE '$dir' PARTITION BY d, h AS SELECT * FROM sql_rename_src")
    assert(graft.storage.TxLog.manifest(spark, dir, 1L).partitionCols == Seq("d", "h"))
    graft.tools.Sql.exec(spark,
      s"TXLOG ALTER '$dir' RENAME COLUMN v TO score")
    val head = graft.storage.TxLog.read(spark, dir)
    assert(head.columns.contains("score") && !head.columns.contains("v"))
    assert(head.selectExpr("sum(score)").head().getDouble(0) == 3.0)
  }

  test("TXLOG SET/UNSET TBLPROPERTIES verbs and the PROPERTIES listing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_props").toString + "/tbl"
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("sql_props_src")
    graft.tools.Sql.exec(spark,
      s"TXLOG CREATE '$dir' PARTITION BY part AS SELECT * FROM sql_props_src")
    graft.tools.Sql.exec(spark,
      s"TXLOG ALTER '$dir' SET TBLPROPERTIES ('tier'='gold', " +
        "'graft.appendOnly'='true')")
    val listed = graft.tools.Sql.exec(spark, s"TXLOG PROPERTIES '$dir'")
      .as[(String, String)].collect().toMap
    assert(listed == Map("tier" -> "gold", "graft.appendOnly" -> "true"),
      listed.toString)
    val e = intercept[UnsupportedOperationException] {
      graft.tools.Sql.exec(spark,
        s"TXLOG DELETE FROM '$dir' WHERE k = 1")
    }
    assert(e.getMessage.contains("graft.appendOnly"), e.getMessage)
    graft.tools.Sql.exec(spark,
      s"TXLOG ALTER '$dir' UNSET TBLPROPERTIES ('graft.appendOnly')")
    graft.tools.Sql.exec(spark, s"TXLOG DELETE FROM '$dir' WHERE k = 1")
    assert(graft.storage.TxLog.read(spark, dir).count() == 1L)
  }

  test("graft_ann / graft_ann_pq / graft_ann_join: the ANN family through pure SQL ≡ the Scala calls") {
    import graft.operators.{Ivf, Pq, Similarity}
    import graft.tables.Tables
    graft.tools.Sql.registerAll(spark, sf)
    val emb = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_sql_ann").toString
    val index = Ivf.fit(emb, tmp, nlist = 16)
    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val qCsv = qv.mkString(",")
    // CSV-string and array-literal spellings, both ≡ Ivf.query
    sameAs(s"SELECT * FROM graft_ann('$tmp', '$qCsv', 10, 4)",
      Ivf.query(spark, index, qv, 10, 4), "graft_ann(csv)")
    sameAs(s"SELECT * FROM graft_ann('$tmp', array($qCsv), 10, 4)",
      Ivf.query(spark, index, qv, 10, 4), "graft_ann(array)")
    // the 100 TB property holds THROUGH the TVF: the scan lists
    // exactly the nprobe probed cell partitions
    val scans = spark.sql(s"SELECT * FROM graft_ann('$tmp', '$qCsv', 10, 4)")
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
    assert(scans.nonEmpty && scans.head.selectedPartitions.partitionCount == 4,
      "the TVF's vector scan is not pruned to the probed cells")
    // IVF-PQ through SQL: ADC shortlist + exact re-rank, same artifacts
    val tmp2 = java.nio.file.Files.createTempDirectory("graft_sql_annpq").toString
    val (index2, model) = Pq.loadOrBuildIvfPq(spark, emb, tmp2)
    sameAs(s"SELECT * FROM graft_ann_pq('$tmp2', '$qCsv', 10)",
      Pq.ivfQuery(spark, index2, model, qv), "graft_ann_pq")
    // cross-corpus similarity join through SQL
    emb.filter(col("vec_id") % 2 === 0).createOrReplaceTempView("ann_left")
    emb.filter(col("vec_id") % 2 === 1).createOrReplaceTempView("ann_right")
    sameAs(
      "SELECT * FROM graft_ann_join('ann_left', 'ann_right', 0.2) " +
        "ORDER BY left_id, right_id",
      Similarity.annJoin(
        emb.filter(col("vec_id") % 2 === 0),
        emb.filter(col("vec_id") % 2 === 1), minCosine = 0.2)
        .orderBy("left_id", "right_id"),
      "graft_ann_join")
  }

  test("planted twin surfaces through a pure-SQL ANN query") {
    import graft.operators.Ivf
    import graft.tables.Tables
    val emb = Tables.embeddings(spark, sf)
    // a byte-identical twin of vec 0 under a fresh id: the recall
    // ground truth a SQL-only user can check end-to-end
    val twin = emb.filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(999999L))
    val tmp = java.nio.file.Files.createTempDirectory("graft_sql_twin").toString
    Ivf.fit(emb.unionByName(twin), tmp, nlist = 16)
    val qCsv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray.mkString(",")
    // the twin shares vec 0's cell, so even nprobe=1 must surface both
    val top = spark.sql(
      s"SELECT vec_id, cosine FROM graft_ann('$tmp', '$qCsv', 2, 1)")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(top.map(_._1).toSet == Set(0L, 999999L),
      s"planted twin missing from SQL top-2: ${top.mkString(", ")}")
    assert(top.forall(_._2 == 1.0), s"twin cosine not 1.0: ${top.mkString(", ")}")
  }

  test("graft_eval_rank / graft_eval_auc / graft_eval_calibration ≡ the Stats operators") {
    import graft.operators.Stats
    import spark.implicits._
    val pred = Seq((1, "a", 1), (1, "b", 2), (1, "c", 3), (1, "d", 4))
      .toDF("query_id", "item_id", "rank")
    val truth = Seq((1, "a", 2), (1, "c", 1)).toDF("query_id", "item_id", "rel")
    pred.createOrReplaceTempView("ev_pred")
    truth.createOrReplaceTempView("ev_truth")
    sameAs("SELECT * FROM graft_eval_rank('ev_pred', 'ev_truth', 3)",
      Stats.rankEval(pred, truth, k = 3), "graft_eval_rank")
    val scored = Seq(("g1", 0.9, 1), ("g1", 0.4, 0), ("g1", 0.6, 1),
      ("g2", 0.8, 0), ("g2", 0.3, 1)).toDF("grp", "score", "label")
    scored.createOrReplaceTempView("ev_scores")
    sameAs("SELECT * FROM graft_eval_auc('ev_scores', 'grp', 'score', 'label')",
      Stats.auc(scored, "grp", "score", "label"), "graft_eval_auc")
    sameAs("SELECT * FROM graft_eval_calibration('ev_scores', 'score', 'label', 5)",
      Stats.calibration(scored, "score", "label", bins = 5),
      "graft_eval_calibration")
    sameAs("SELECT * FROM graft_eval_pr('ev_scores', 'score', 'label', 5)",
      Stats.prCurve(scored, "score", "label", bins = 5), "graft_eval_pr")
  }

  test("graft_sample_* / graft_pack_sequences / graft_split_* ≡ the Scala operators; salt contract pinned") {
    import graft.operators.{Dedup, Packing, Sampling}
    import spark.implicits._
    val docs = (0 until 200).map(i =>
      (i.toLong, s"src_${i % 4}", 10L + i % 7)).toDF("doc_id", "source", "n_tokens")
    docs.createOrReplaceTempView("samp_docs")
    sameAs("SELECT * FROM graft_sample_per_group('samp_docs', 'source', 5)",
      Sampling.perGroupK(docs, docs("source"), 5), "graft_sample_per_group")
    // the determinism contract THROUGH SQL: same salt = identical set,
    // a new salt draws an independent one
    val s1 = spark.sql(
      "SELECT doc_id FROM graft_sample_per_group('samp_docs', 'source', 5, 'doc_id', 'epoch1')")
      .as[Long].collect().toSet
    val s1again = spark.sql(
      "SELECT doc_id FROM graft_sample_per_group('samp_docs', 'source', 5, 'doc_id', 'epoch1')")
      .as[Long].collect().toSet
    val s2 = spark.sql(
      "SELECT doc_id FROM graft_sample_per_group('samp_docs', 'source', 5, 'doc_id', 'epoch2')")
      .as[Long].collect().toSet
    assert(s1 == s1again, "same salt must reproduce the identical set")
    assert(s1 != s2, "a new salt must draw a different set")
    sameAs("SELECT * FROM graft_sample_stratified('samp_docs', 'source', 0.25)",
      Sampling.stratified(docs, docs("source"), 0.25),
      "graft_sample_stratified")
    sameAs("SELECT * FROM graft_pack_sequences('samp_docs', 'n_tokens', 64)",
      Packing.packSequences(docs, docs("n_tokens"), budget = 64),
      "graft_pack_sequences")
    val pairs = Seq((0L, 1L), (1L, 2L), (10L, 11L)).toDF("doc_a", "doc_b")
    pairs.createOrReplaceTempView("samp_pairs")
    sameAs("SELECT * FROM graft_split_leakage_safe('samp_docs', 'samp_pairs', 0.25)",
      Dedup.leakageSafeSplit(docs, pairs, valFrac = 0.25),
      "graft_split_leakage_safe")
    // the leakage contract through SQL: a near-dup cluster never
    // straddles the cut
    val splits = spark.sql(
      "SELECT doc_id, split FROM graft_split_leakage_safe('samp_docs', 'samp_pairs', 0.25)")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(Set(splits(0L), splits(1L), splits(2L)).size == 1,
      s"cluster {0,1,2} straddled the cut: $splits")
    sameAs("SELECT * FROM graft_split_kfold('samp_docs', 'samp_pairs', 4)",
      Dedup.kfoldSplit(docs, pairs, k = 4), "graft_split_kfold")
  }

  test("TxLog TVFs accept catalog NAMES like the TXLOG verbs do") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("graft_tvf_names").toString
    val prev = spark.conf.getOption("graft.catalog.warehouse")
    spark.conf.set("graft.catalog.warehouse", wh)
    try {
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v")
        .createOrReplaceTempView("tvf_names_src")
      graft.tools.Sql.exec(spark,
        "TXLOG CREATE 'named_t' AS SELECT * FROM tvf_names_src")
      assert(spark.sql("SELECT sum(k) FROM graft_txlog('named_t')")
        .head().getLong(0) == 3L, "graft_txlog must resolve the name")
      assert(spark.sql("SELECT count(*) FROM graft_txlog_history('named_t')")
        .head().getLong(0) >= 1L)
      assert(spark.sql("SELECT rows FROM graft_txlog_count('named_t')")
        .head().getLong(0) == 2L)
    } finally prev match {
      case Some(v) => spark.conf.set("graft.catalog.warehouse", v)
      case None => spark.conf.unset("graft.catalog.warehouse")
    }
  }

  test("TXLOG APPLY CHANGES: the whole CDC replication loop in pure SQL") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_sql_cdc_loop").toString
    val primary = s"$root/primary"
    val replica = s"$root/replica"
    graft.storage.TxLog.create(
      Seq((1L, "p1", 1.0), (2L, "p1", 2.0), (3L, "p2", 3.0))
        .toDF("k", "part", "v"), primary, Some("part"))          // v1
    graft.storage.TxLog.create(
      graft.storage.TxLog.read(spark, primary, Some(1L)), replica,
      Some("part"))
    graft.storage.TxLog.mergeInto(primary,
      Seq((2L, "p1", 20.0), (4L, "p2", 4.0)).toDF("k", "part", "v"),
      Seq("k"))                                                  // v2
    graft.storage.TxLog.deleteWhere(spark, primary, col("k") === 1L) // v3
    // produce the feed AND apply it, both as SQL strings
    val out = graft.tools.Sql.exec(spark,
      s"TXLOG APPLY CHANGES INTO '$replica' ON k " +
        s"SELECT * FROM graft_txlog_cdf('$primary', 1, 3, 'k')")
    assert(out.head().getLong(0) >= 2L, "the apply must commit")
    def rows(p: String) = graft.storage.TxLog.read(spark, p)
      .collect().map(_.toString).sorted.toSeq
    assert(rows(replica) == rows(primary),
      "the SQL-driven replica must equal the primary head")
  }

  test("TXLOG APPLY CHANGES without ON: the KEYLESS event-feed loop in pure SQL") {
    import spark.implicits._
    val root = java.nio.file.Files
      .createTempDirectory("graft_sql_cdc_keyless").toString
    val primary = s"$root/primary"
    val replica = s"$root/replica"
    // duplicate rows: no key exists — only the event feed serves this
    graft.storage.TxLog.create(
      Seq(("a", 1.0), ("a", 1.0), ("b", 2.0)).toDF("k", "v"), primary) // v1
    graft.storage.TxLog.setProperties(spark, primary,
      Map(graft.storage.TxLog.ChangeDataFeedProp -> "true"))           // v2
    graft.storage.TxLog.deleteWhere(spark, primary, col("k") === "a")  // v3
    graft.storage.TxLog.append(Seq(("c", 3.0)).toDF("k", "v"), primary) // v4
    graft.storage.TxLog.create(
      Seq.empty[(String, Double)].toDF("k", "v"), replica)
    val out = graft.tools.Sql.exec(spark,
      s"TXLOG APPLY CHANGES INTO '$replica' " +
        s"SELECT * FROM graft_txlog_cdf('$primary', 0, 4)")
    assert(out.head().getLong(0) >= 2L, "the apply must commit")
    def ms(p: String) = graft.storage.TxLog.read(spark, p)
      .groupBy("k", "v").count().collect().map(_.toString).sorted.toSeq
    assert(ms(replica) == ms(primary),
      s"keyless SQL replica must equal the primary: ${ms(replica)} vs ${ms(primary)}")
  }

  test("graft_table_health serves the maintenance advisor through SQL") {
    import spark.implicits._
    val dir = java.nio.file.Files
      .createTempDirectory("graft_sql_health").toString + "/tbl"
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "part", "v")
      .repartition(4).write.partitionBy("part").parquet(dir)
    sameAs(s"SELECT * FROM graft_table_health('$dir')",
      graft.operators.Layout.tableHealth(spark, dir), "graft_table_health")
    val advisor = spark.sql(
      s"SELECT dir, n_files, small_file_frac FROM graft_table_health('$dir', 1)")
      .collect()
    assert(advisor.nonEmpty && advisor.forall(_.getString(0).startsWith("part=")),
      advisor.mkString(", "))
  }

  test("TBLPROPERTIES values containing ',' and ')' parse quote-aware; residue refuses") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sql_props2").toString + "/tbl"
    Seq((1L, "a", 1.0)).toDF("k", "part", "v")
      .createOrReplaceTempView("sql_props2_src")
    graft.tools.Sql.exec(spark,
      s"TXLOG CREATE '$dir' PARTITION BY part AS SELECT * FROM sql_props2_src")
    // a comma and a close-paren INSIDE the quotes are data, not
    // delimiters (r14 advice: the naive comma split broke both)
    graft.tools.Sql.exec(spark,
      s"TXLOG ALTER '$dir' SET TBLPROPERTIES " +
        "('comment'='gold, audited (daily)', 'tier'='gold')")
    val listed = graft.storage.TxLog.propertiesOf(spark, dir)
    assert(listed == Map("comment" -> "gold, audited (daily)", "tier" -> "gold"),
      listed.toString)
    // unparsed residue refuses loudly instead of half-applying
    val e = intercept[IllegalArgumentException] {
      graft.tools.Sql.exec(spark,
        s"TXLOG ALTER '$dir' SET TBLPROPERTIES ('a'='1', garbage)")
    }
    assert(e.getMessage.contains("expected 'key'='value'"), e.getMessage)
    assert(graft.storage.TxLog.propertiesOf(spark, dir).get("a").isEmpty,
      "a refused statement must apply nothing")
  }

  test("a malformed TXLOG statement refuses loudly instead of falling through to the ANSI parser") {
    val e = intercept[IllegalArgumentException] {
      graft.tools.Sql.exec(spark, "TXLOG OPTIMISE '/tmp/nowhere'") // misspelled verb
    }
    assert(e.getMessage.contains("supported verbs"), e.getMessage)
  }

  test("predicates pushed through a view reach the parquet scan") {
    graft.tools.Sql.registerAll(spark, sf)
    val p = spark.sql(
      "SELECT l_orderkey FROM lineitem WHERE l_suppkey = 5 AND l_partkey BETWEEN 50 AND 150")
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_suppkey)"), s"no pushdown through view:\n$p")
  }

  private def withTxnWarehouse(f: String => Unit): Unit = {
    val w = java.nio.file.Files.createTempDirectory("graft_sqltxn").toString
    val prev = spark.conf.getOption("graft.catalog.warehouse")
    spark.conf.set("graft.catalog.warehouse", w)
    try f(w)
    finally prev match {
      case Some(v) => spark.conf.set("graft.catalog.warehouse", v)
      case None => spark.conf.unset("graft.catalog.warehouse")
    }
  }

  private def journalFiles(w: String): Seq[String] = {
    val d = new java.io.File(s"$w/_txn")
    if (!d.exists()) Nil
    else d.listFiles().toSeq.map(_.getName).filter(_.endsWith(".json"))
  }

  test("TXLOG TXN block: two tables change atomically through SQL") {
    withTxnWarehouse { w =>
      graft.tools.Sql.exec(spark,
        "TXLOG CREATE 'facts' AS SELECT CAST(1 AS BIGINT) AS k, " +
          "CAST(10.0 AS DOUBLE) AS amt")
      graft.tools.Sql.exec(spark,
        "TXLOG CREATE 'rollup' AS SELECT CAST(1 AS BIGINT) AS k, " +
          "CAST(10.0 AS DOUBLE) AS total")
      val out = graft.tools.Sql.exec(spark,
        "TXLOG TXN BEGIN; " +
          "TXLOG APPEND INTO 'facts' SELECT CAST(2 AS BIGINT) AS k, " +
          "CAST(5.0 AS DOUBLE) AS amt; " +
          "TXLOG UPDATE 'rollup' SET total = total + 5.0 WHERE k = 1; " +
          "COMMIT").as[(Int, Long)].collect().toSeq
      assert(out == Seq((0, 2L), (1, 2L)), s"got $out")
      assert(graft.storage.Catalog.table(spark, "facts").count() == 2)
      assert(graft.storage.Catalog.table(spark, "rollup")
        .select("total").as[Double].head() == 15.0)
      assert(journalFiles(w).isEmpty, "journal must clear on success")
    }
  }

  test("TXLOG TXN block: a mid-txn CHECK failure compensates and clears the journal") {
    withTxnWarehouse { w =>
      graft.tools.Sql.exec(spark,
        "TXLOG CREATE 'f2' AS SELECT CAST(1 AS BIGINT) AS k, " +
          "CAST(10.0 AS DOUBLE) AS amt")
      graft.tools.Sql.exec(spark,
        "TXLOG CREATE 'r2' AS SELECT CAST(1 AS BIGINT) AS k, " +
          "CAST(10.0 AS DOUBLE) AS total")
      graft.tools.Sql.exec(spark,
        "TXLOG ALTER 'r2' ADD CONSTRAINT pos CHECK (total >= 0)")
      val before = graft.storage.TxLog.currentVersion(spark, s"$w/f2").get
      // op 1 (the facts append) COMMITS, then op 2 violates r2's CHECK:
      // the saga restores f2 to its pre-transaction head and rethrows
      val e = intercept[graft.storage.Txn.TxnFailedException] {
        graft.tools.Sql.exec(spark,
          "TXLOG TXN BEGIN; " +
            "TXLOG APPEND INTO 'f2' SELECT CAST(2 AS BIGINT) AS k, " +
            "CAST(5.0 AS DOUBLE) AS amt; " +
            "TXLOG UPDATE 'r2' SET total = -99.0 WHERE k = 1; " +
            "COMMIT")
      }
      assert(e.getMessage.contains("compensated"), e.getMessage)
      assert(graft.storage.Catalog.table(spark, "f2").count() == 1,
        "the committed append must roll back")
      // the restore is a NEW commit (history kept), content = pre-txn
      assert(graft.storage.TxLog.read(spark, s"$w/f2", Some(before)).count() == 1)
      assert(graft.storage.Catalog.table(spark, "r2")
        .select("total").as[Double].head() == 10.0)
      assert(journalFiles(w).isEmpty,
        "a fully-compensated transaction must clear its journal")
    }
  }

  test("TXN block: a backslash-escaped quote with a semicolon inside a literal") {
    withTxnWarehouse { w =>
      graft.tools.Sql.exec(spark,
        "TXLOG CREATE 'esc' AS SELECT CAST(1 AS BIGINT) AS k, 'x' AS v")
      graft.tools.Sql.exec(spark,
        "TXLOG TXN BEGIN; " +
          "TXLOG APPEND INTO 'esc' SELECT CAST(2 AS BIGINT) AS k, " +
          "'it\\'s; done' AS v; " +
          "COMMIT")
      assert(graft.storage.Catalog.table(spark, "esc")
        .filter(org.apache.spark.sql.functions.col("k") === 2L)
        .select("v").as[String].head() == "it's; done")
    }
  }

  test("CALL graft.system.transact: the catalog-native spelling") {
    withTxnWarehouse { w =>
      graft.tools.Sql.exec(spark,
        "TXLOG CREATE 'f3' AS SELECT CAST(1 AS BIGINT) AS k")
      graft.tools.Sql.exec(spark,
        "TXLOG CREATE 'r3' AS SELECT CAST(1 AS BIGINT) AS k")
      val out = spark.sql(
        "CALL graft.system.transact(statements => " +
          "\"TXLOG APPEND INTO 'f3' SELECT CAST(2 AS BIGINT) AS k; " +
          "TXLOG DELETE FROM 'r3' WHERE k = 1\")")
        .select("versions").as[Seq[Long]].head()
      assert(out == Seq(2L, 2L), s"got $out")
      assert(graft.storage.Catalog.table(spark, "f3").count() == 2)
      assert(graft.storage.Catalog.table(spark, "r3").count() == 0)
      assert(journalFiles(w).isEmpty)
    }
  }
}
