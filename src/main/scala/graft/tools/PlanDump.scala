package graft.tools

import java.nio.file.{Files, Paths}

import graft.GraftSession
import graft.queries.{PipelineQueries, ReferenceQueries, WarehouseQueries}

/** Dump formatted physical plans of flagship queries to docs/PLANS.md —
  * reviewable evidence of pushdown/broadcast/partial-agg/TopK shapes. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val spark = GraftSession.get("plandump")
    val d = "/root/testdata/sf0.001"
    val picks = Seq(
      "q_region_filter (pushed-down scan)" -> ReferenceQueries.regionFilter(spark, d),
      "q_combined_view (broadcast dims)" -> ReferenceQueries.combinedView(spark, d),
      "q1_agg (partial agg + codegen)" -> WarehouseQueries.q1Agg(spark, d),
      "q_topk_group (custom operator, partial+final)" -> WarehouseQueries.topkGroup(spark, d),
      "q_window_rank (auto-rewritten by WindowTopKRule)" -> ReferenceQueries.windowRank(spark, d),
      "sim_cosine_topk (native CosineSim + TakeOrdered)" ->
        PipelineQueries.entries("sim_cosine_topk")(spark, d),
      "q_range_join (binned interval join, no nested loop)" ->
        WarehouseQueries.rangeJoinQuery(spark, d),
      "sim_quantize (per-row arithmetic, single pruned scan)" ->
        PipelineQueries.entries("sim_quantize")(spark, d),
      "shuffle_deterministic (bucketed rank, no single-reducer window)" ->
        PipelineQueries.entries("shuffle_deterministic")(spark, d),
      "q_bloom_join (bloom probe inside the fact scan's DataFilters)" ->
        WarehouseQueries.bloomJoinQuery(spark, d),
      "text_repetition (bigram explode + two partial-agg phases)" ->
        PipelineQueries.entries("text_repetition")(spark, d),
      "text_boilerplate (first-occurrence gram count, equi-join on g, per-row span filter)" ->
        PipelineQueries.entries("text_boilerplate")(spark, d),
      "text_lm_score (count-table equi-joins + exact decimal log sum)" ->
        PipelineQueries.entries("text_lm_score")(spark, d),
      "sample_temperature (domain-bounded quota window + broadcast quota join)" ->
        PipelineQueries.entries("sample_temperature")(spark, d),
      "q_dq_audit (one-scan rule tally, no shuffle-by-key)" ->
        WarehouseQueries.dqAudit(spark, d),
      "text_bm25 (posting-list explode pruned at the generator, TakeOrdered top-k)" ->
        PipelineQueries.entries("text_bm25")(spark, d),
      "q_resample (spine explode + left join + LOCF window)" ->
        WarehouseQueries.resample(spark, d),
      "q_corr_stats (one group-sized aggregate of exact decimal moments)" ->
        WarehouseQueries.corrStats(spark, d),
      // the driver query's literal fixture folds to a LocalTableScan, so
      // dump the parse over a real table scan instead — the shape a
      // production payload column gets
      "image_header over a table scan (parse stays in the codegen pipeline)" -> {
        import org.apache.spark.sql.functions.col
        graft.operators.Multimodal.imageMeta(
          graft.tables.Tables.documents(spark, d)
            .select(col("doc_id"), col("text").cast("binary").as("payload")))
      },
      "q_skyline (staircase prune + broadcast survivor verify)" ->
        WarehouseQueries.skylineQuery(spark, d),
      "q_assoc_rules (basket-bounded pair join, broadcast total anchor)" ->
        WarehouseQueries.assocRules(spark, d),
      "dedup_lines (hash-only election shuffle, doc-local reassembly)" ->
        PipelineQueries.entries("dedup_lines")(spark, d),
      "dedup_jaccard_join (rare-token prefix candidates, no cartesian)" ->
        PipelineQueries.entries("dedup_jaccard_join")(spark, d),
      "q_scd2_lookup (equi-join with validity-window residual, no nested loop)" ->
        WarehouseQueries.scd2Lookup(spark, d),
      "curation_sweep (quality gate -> dedup -> pack, one gated chain)" ->
        PipelineQueries.entries("curation_sweep")(spark, d),
      // r15: the ANN family through pure SQL — the TVF splices the
      // Ivf.query serving plan, so the scan lists exactly the nprobe
      // probed cell partitions (visible under PartitionFilters)
      "graft_ann TVF (SQL vector search: cell-pruned scan + TakeOrdered)" -> {
        import org.apache.spark.sql.functions.col
        val emb = graft.tables.Tables.embeddings(spark, d)
        val idx = java.nio.file.Files
          .createTempDirectory("plandump_ann").toString
        graft.operators.Ivf.fit(emb, idx, nlist = 16)
        val qv = emb.filter(col("vec_id") === 0L)
          .select(col("embedding").cast("array<double>"))
          .head().getSeq[Double](0)
        spark.sql(
          s"SELECT * FROM graft_ann('$idx', '${qv.mkString(",")}', 10, 4)")
      },
      // r16: the keyless write-time capture feed — the plan scans the
      // commit's OWN change-record files under _change_data, never two
      // whole-table snapshots with a key join (the O(changed rows)
      // claim, visible in the scan's file listing)
      "TxLog.changeFeed (keyless CDC: record-file scan, no snapshot join)" -> {
        import org.apache.spark.sql.functions.col
        import spark.implicits._
        val t = java.nio.file.Files
          .createTempDirectory("plandump_cdc").toString + "/t"
        graft.storage.TxLog.create(
          Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), t)
        graft.storage.TxLog.setProperties(spark, t,
          Map(graft.storage.TxLog.ChangeDataFeedProp -> "true"))
        graft.storage.TxLog.deleteWhere(spark, t, col("k") === 1L)
        graft.storage.TxLog.changeFeed(spark, t, 2L, 3L)
      },
      // TxLog.read plans from the manifest's file list through the same
      // index the catalog mounts: partition pruning and min/max file
      // skipping show under PartitionFilters and the selected files
      "TxLog.read (manifest-backed scan: partition pruning + stats skipping)" -> {
        import org.apache.spark.sql.functions.col
        val t = java.nio.file.Files
          .createTempDirectory("plandump_read").toString + "/t"
        graft.storage.TxLog.create(spark.range(0, 100)
          .select(col("id").as("pos"), (col("id") % 2).as("chr")).coalesce(1),
          t, Some("chr"), statsCols = Seq("pos"))
        graft.storage.TxLog.append(spark.range(100, 200)
          .select(col("id").as("pos"), (col("id") % 2).as("chr")).coalesce(1), t)
        graft.storage.TxLog.read(spark, t)
          .filter(col("chr") === 1L && col("pos").between(120L, 140L))
      },
    )
    val out = Paths.get("docs/PLANS.md")
    // sections of the current file that no pick generates (hand-written
    // notes) carry over verbatim, in their order, after the plans
    val names = picks.map(_._1).toSet
    val kept =
      if (!Files.exists(out)) Nil
      else sections(Files.readString(out)).filterNot(s => names(s._1)).map(_._2)
    val body = (picks.map { case (name, df) =>
      stable(s"## $name\n\n```\n${df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))}```\n")
    } ++ kept).mkString("\n")
    Files.createDirectories(Paths.get("docs"))
    Files.writeString(out,
      "# Physical plans of flagship queries (sf0.001, auto-generated by graft.tools.PlanDump)\n\n" + body)
    println("[plandump] wrote docs/PLANS.md")
    spark.stop()
  }

  /** The `## `-headed sections of a PLANS.md text as (heading, text),
    * each text ending in exactly one newline. */
  private[tools] def sections(doc: String): Seq[(String, String)] =
    doc.split("(?m)^(?=## )").toSeq.filter(_.startsWith("## ")).map { s =>
      (s.linesIterator.next().stripPrefix("## "), s.replaceAll("\\s+$", "") + "\n")
    }

  private val SparkIds = "(#|plan_id=|RDD\\[|\\bx_)(\\d+)".r // x_: lambda variables
  private val Tokens = Seq(
    "(?<=[\\w$])@[0-9a-f]{4,8}\\b" -> "@<hash>", // identity hash codes ([B@…)
    "[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}" -> "<uuid>",
    "\\b[0-9a-f]{8}-[0-9a-f]{3}\\b" -> "<id>", // TxLog commit-file ids
    "(plandump_[a-z]+)\\d+" -> "$1") // temp-dir suffixes

  /** One section with its run-dependent text made stable: expression,
    * plan, RDD and lambda-variable ids (allocated per JVM) renumber in
    * first-seen order, and object hashes, uuids and temp-dir suffixes
    * become fixed tokens — so a regeneration differs only where a plan
    * changed. */
  private[tools] def stable(section: String): String = {
    val seen = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Map[String, Int]]
    val renumbered = SparkIds.replaceAllIn(section, m => {
      val ids = seen.getOrElseUpdate(m.group(1), scala.collection.mutable.Map.empty)
      scala.util.matching.Regex.quoteReplacement(
        m.group(1) + ids.getOrElseUpdate(m.group(2), ids.size))
    })
    Tokens.foldLeft(renumbered) { case (s, (re, token)) => s.replaceAll(re, token) }
  }
}
