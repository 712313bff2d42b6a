package graft

import graft.operators.Multimodal
import graft.queries.{PipelineQueries, ReferenceQueries, WarehouseQueries}
import graft.tables.Tables

/** Plan-shape audit: the properties that keep these queries viable at
  * 100 TB, asserted on the actual physical plans.
  */
class PlanAuditSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("scan-selective queries push predicates into the parquet scan") {
    val pushdowns = Map(
      "q_region_filter" -> "PushedFilters: [IsNotNull(l_suppkey)",
      "q_marker_search" -> "PushedFilters: [IsNotNull(p_name)",
      "q_qc_filter" -> "PushedFilters: [Or(LessThan(l_quantity",
    )
    pushdowns.foreach { case (q, needle) =>
      val p = plan(ReferenceQueries.entries(q)(spark, sf))
      assert(p.contains(needle), s"$q lost its pushdown:\n$p")
    }
  }

  test("dedup_spans: hash-keyed equi-joins only, partial aggregation on the gram ownership pass") {
    val p = plan(PipelineQueries.entries("dedup_spans")(spark, sf))
    // the duplicated-gram ownership and the token reassembly are all
    // (gram-hash / doc-id)-keyed equi-joins — a cartesian over
    // positions would be corpus² at scale
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      s"non-equi join in dedup_spans:\n${p.take(4000)}")
    // the min/max ownership aggregate must combine map-side: gram rows
    // shrink to one per hash BEFORE the shuffle
    assert("partial_min|partial_max".r.findFirstIn(p).isDefined ||
      "HashAggregate".r.findAllIn(p).size >= 2,
      s"no partial aggregation on gram ownership:\n${p.take(4000)}")
  }

  test("text_boilerplate: gram doc counts from first-occurrence rows (no (doc_id, g) distinct), equi-join on g") {
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    val df = PipelineQueries.entries("text_boilerplate")(spark, sf)
    val opt = df.queryExecution.optimizedPlan
    // a distinct is an Aggregate with no aggregate function: the old
    // plan de-duplicated every (doc_id, g) row before counting
    val distincts = opt.collect {
      case a: Aggregate if a.aggregateExpressions.forall(
          _.find(_.isInstanceOf[AggregateExpression]).isEmpty) =>
        a.groupingExpressions.flatMap(_.references.map(_.name)).toSet
    }
    assert(!distincts.contains(Set("doc_id", "g")),
      s"(doc_id, g) distinct is back:\n$opt")
    // the span starts still resolve through an equi-join on the gram
    // hash (AQE may broadcast the span set or split a hot gram)
    val gJoins = opt.collect {
      case j: Join if j.condition.exists(_.references.map(_.name).toSet == Set("g")) => j
    }
    assert(gJoins.nonEmpty, s"no join on g:\n$opt")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[g#".r
      .findFirstIn(plan(df)).isDefined, s"the join on g is not an equi-join:\n${plan(df)}")
  }

  test("projection pruning: q1_agg reads only the 7 columns it needs") {
    val scans = WarehouseQueries.q1Agg(spark, sf).queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty)
    val read = scans.head
    assert(read == Set("l_quantity", "l_extendedprice", "l_discount", "l_tax",
      "l_shipdate", "l_returnflag", "l_linestatus"), s"scan reads: $read")
  }

  test("q_mad: refinement plan — NO corpus sort, no window, 2-column pruned scans") {
    // r17 rework: the old plan histogram'd (group, value) and ran
    // sort-windows over it — exact, but on a 97%-distinct money column
    // the "histogram" IS the corpus and both percentile passes were
    // corpus sorts (the real 100 TB weak spot; ~5 s windows at sf0.1).
    // The refinement plan (Quantiles.refined) resolves the medians
    // with bounded aggregation passes at CONSTRUCTION time; the
    // returned frame is one scan + broadcast med/mad stamps + a
    // group-sized aggregate. Pinned: the returned plan has NO Sort and
    // NO Window anywhere, its parquet scan reads exactly the 2 needed
    // columns, and the med/mad sides arrive as broadcasts.
    val df = WarehouseQueries.entries("q_mad")(spark, sf)
    df.collect() // AQE finalizes at execution
    val p = df.queryExecution.executedPlan.toString
    assert(p.linesIterator.next().contains("isFinalPlan=true"),
      s"expected an executed adaptive plan:\n${p.take(500)}")
    assert(!p.contains("Window"), s"no window expected:\n${p.take(4000)}")
    // the final ORDER BY sorts the GROUP-SIZED aggregate output (3
    // rows) — fine; the pinned regression is a sort BELOW the final
    // aggregate, i.e. over corpus-sized input (plan strings print
    // top-down, so below = later in the string)
    val pf = p.split("== Initial Plan ==").head // final-plan section only
    val firstAgg = pf.indexOf("HashAggregate")
    assert(firstAgg >= 0, pf.take(2000))
    assert(!pf.substring(firstAgg).contains("Sort ["),
      s"no sort below the final aggregate (corpus-sized input):\n${pf.take(4000)}")
    // AQE nests the scans inside query stages — read the schemas off
    // the plan string (every FileScan prints its ReadSchema)
    val reads = "ReadSchema: struct<([^>]*)>".r.findAllMatchIn(pf)
      .map(_.group(1).split(",").map(_.split(":").head).toSet).toSeq
    assert(reads.nonEmpty && reads.forall(_ ==
      Set("l_returnflag", "l_extendedprice")),
      s"scan must read exactly the 2 needed columns: $reads")
    // r19: the driver-resolved med/mad attach as LITERAL when-chains
    // (Quantiles.litChain) — no join of any kind remains in the tally
    // (stronger than the r17 "broadcast stamps" pin: the old plan paid
    // a literal-frame parallelize + BroadcastExchange build per stamp)
    assert(!p.contains("Join"),
      s"med/mad stamps must be literal projections, not joins:\n${p.take(4000)}")
    assert(pf.contains("CASE WHEN"),
      s"med/mad literal when-chain stamps expected:\n${pf.take(4000)}")
  }

  test("dim joins broadcast instead of shuffling the fact side") {
    Seq(
      ReferenceQueries.combinedView(spark, sf),
      ReferenceQueries.locusWindow(spark, sf),
      WarehouseQueries.q3JoinAgg(spark, sf),
    ).foreach { df =>
      val p = plan(df)
      assert(p.contains("Broadcast"), s"no broadcast in:\n$p")
    }
  }

  test("top-k plans avoid global sorts (TakeOrderedAndProject)") {
    Seq(
      ReferenceQueries.topHits(spark, sf),
      WarehouseQueries.q3JoinAgg(spark, sf),
      PipelineQueries.entries("sim_cosine_topk")(spark, sf),
    ).foreach { df =>
      val p = plan(df)
      assert(p.contains("TakeOrderedAndProject"), s"limit not fused:\n$p")
    }
  }

  test("a small ORDER BY sorts in one partition: no range exchange (SmallSortRule)") {
    // q_marker_search filters and sorts the sf0.001 part table, a few
    // KB: a range exchange would add a sampling job and a second scan
    val p = plan(ReferenceQueries.entries("q_marker_search")(spark, sf))
    assert(p.contains("Sort [p_partkey") && !p.contains("rangepartitioning"),
      s"small sort planned a range exchange:\n$p")
  }

  test("aggregates partial-aggregate before shuffling (two HashAggregate phases)") {
    Seq(
      ReferenceQueries.chrCounts(spark, sf),
      WarehouseQueries.skewAgg(spark, sf),
    ).foreach { df =>
      val p = plan(df)
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    }
  }

  test("batched decode keeps a single deserialize/serialize boundary") {
    val ds = Multimodal.decodeBatched(spark, Tables.documents(spark, sf))
    val p = plan(ds.toDF())
    assert(p.contains("MapPartitions"), p)
    assert(ds.count() > 0)
  }

  test("pack_sequences: the prefix scan never funnels through a single partition") {
    // the naive global-order window would plan Exchange SinglePartition —
    // the one shape that cannot survive 100 TB
    val p = plan(PipelineQueries.entries("pack_sequences")(spark, sf))
    assert(!p.contains("SinglePartition"), s"single-reducer exchange:\n$p")
  }

  test("graft_sample_per_group TVF plans through the native TopKPerGroup — no per-group sort") {
    import spark.implicits._
    (0 until 500).map(i => (i.toLong, s"src_${i % 4}"))
      .toDF("doc_id", "source").createOrReplaceTempView("pa_samp")
    val df = spark.sql(
      "SELECT * FROM graft_sample_per_group('pa_samp', 'source', 5)")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("TopKPerGroup"),
      s"the TVF must splice the native operator:\n${p.take(2000)}")
    // k-bounded heaps, never a window/global sort over the corpus
    assert(!p.contains("Window") && !p.contains("SortExec"),
      s"no per-group sort machinery expected:\n${p.take(2000)}")
  }

  test("q_funnel: both windows and the aggregates share ONE user_id shuffle") {
    val p = plan(WarehouseQueries.funnel(spark, sf))
    val userShuffles = "Exchange hashpartitioning\\(user_id".r.findAllIn(p).size
    assert(userShuffles == 1, s"expected 1 user_id exchange, got $userShuffles:\n$p")
  }

  test("PQ encode runs inside whole-stage codegen (native expression, not a fallback)") {
    val emb = Tables.embeddings(spark, sf)
    val model = graft.operators.Pq.fit(emb)
    val p = plan(graft.operators.Pq.encode(emb, model))
    // the starred Project is the WholeStageCodegen span; pq_encode must
    // sit inside one, not in an interpreted fallback Project
    assert("\\*\\(\\d+\\) Project \\[.*pq_encode".r.findFirstIn(p).isDefined,
      s"pq_encode not in a codegen span:\n$p")
  }

  test("text_heavy_hitters: two-phase sketch aggregate (partial sketches merge map-side)") {
    val p = plan(PipelineQueries.entries("text_heavy_hitters")(spark, sf))
    // TypedImperativeAggregate plans ObjectHashAggregate; the buffer is
    // maxTracked-BOUNDED by construction (unlike the old percentile
    // map-buffer this repo replaced), and partial + final phases mean
    // sketch bytes cross the shuffle, not per-token rows
    assert("ObjectHashAggregate".r.findAllIn(p).size >= 2,
      s"sketch aggregation not two-phase:\n$p")
  }

  test("text_vocab: top-k over two-phase count, never a full vocabulary sort") {
    val p = plan(PipelineQueries.entries("text_vocab")(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"vocab top-k not fused:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial count:\n$p")
  }

  test("sample_stratified reads only the two columns it needs") {
    val scans = PipelineQueries.entries("sample_stratified")(spark, sf)
      .queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.requiredSchema.fieldNames.toSet
      }
    assert(scans.nonEmpty && scans.head == Set("doc_id", "text"),
      s"scan reads: $scans")
  }

  test("q_range_join: equi-join on the bin key, never a nested-loop plan") {
    val p = plan(WarehouseQueries.rangeJoinQuery(spark, sf))
    assert(!p.contains("BroadcastNestedLoop") && !p.contains("CartesianProduct"),
      s"range join planned a nested loop:\n$p")
    // the BETWEEN survives as a post-join filter, the join itself is an
    // equi-join (hash or sort-merge depending on AQE's size estimate)
    assert(p.contains("Join") && p.contains("_bin"), s"bin key missing:\n$p")
  }

  test("q_scd2: the change feed broadcasts; history branch adds no shuffle") {
    val p = plan(WarehouseQueries.scd2(spark, sf))
    assert(p.contains("Broadcast"), s"change feed not broadcast:\n$p")
  }

  test("shuffle_deterministic and q_approx_percentile avoid single-reducer stages") {
    Seq(
      PipelineQueries.entries("shuffle_deterministic")(spark, sf),
      WarehouseQueries.approxPercentiles(spark, sf),
    ).foreach { df =>
      val p = plan(df)
      assert(!p.contains("SinglePartition") ||
        // the tiny 3-row percentile RESULT may coalesce; the sketch
        // aggregation itself must still be two-phase
        "ObjectHashAggregate".r.findAllIn(p).size >= 2,
        s"single-reducer stage:\n$p")
    }
  }

  test("q_pk_audit: partial-aggregates before the shuffle, scans only the key column") {
    val df = WarehouseQueries.pkAudit(spark, sf)
    val p = plan(df)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no partial agg:\n$p")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty && scans.forall(_ == Set("o_orderkey")), s"scan reads: $scans")
  }

  test("salted weighted sampling: quota join broadcasts, no single-reducer window") {
    val docs = graft.tables.Tables.documents(spark, sf).select("doc_id", "text")
    val p = plan(graft.operators.Sampling.weighted(
      docs, org.apache.spark.sql.functions.pmod(
        org.apache.spark.sql.functions.length(
          org.apache.spark.sql.functions.col("text")),
        org.apache.spark.sql.functions.lit(4)),
      Map[Any, Double]("0" -> 0.5), defaultFrac = 0.125, salts = 4))
    assert(!p.contains("SinglePartition"), s"single-reducer stage:\n$p")
    assert(p.contains("Broadcast"), s"quota table not broadcast:\n$p")
  }

  test("sim_quantize: one pruned scan, no shuffle, no UDF") {
    val df = PipelineQueries.entries("sim_quantize")(spark, sf)
    val p = plan(df)
    // quantization is per-row arithmetic: the only exchange allowed is
    // the harness-required final ORDER BY
    assert("Exchange".r.findAllIn(p).size <= 1, s"unexpected shuffle:\n$p")
    assert(!p.contains("BatchEvalPython") && !p.toLowerCase.contains("scalaudf"),
      s"UDF in the hot path:\n$p")
    val scans = df.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty && scans.head == Set("vec_id", "embedding"), s"scan reads: $scans")
    // the per-vector scale must be computed ONCE: quantizeInt8 keeps it
    // in its own projection because CollapseProject treats the
    // HOF-based scale as non-cheap — if that Catalyst heuristic ever
    // changes and the projections collapse, the full-array abs+max
    // pass re-evaluates up to 3x per row (the regression the r5
    // refactor removed). The q_max aggregate is array_max over the
    // ALREADY-quantized vector, so "array_max(transform(" counts the
    // scale alone.
    val opt = df.queryExecution.optimizedPlan.toString
    val scaleEvals = "array_max\\(transform\\(".r.findAllIn(opt).size
    assert(scaleEvals == 1,
      s"expected exactly 1 array_max(transform( scale evaluation, got $scaleEvals:\n$opt")
  }

  test("jaccardJoin: no cartesian product, no vocabulary-wide single-reducer window") {
    import spark.implicits._
    val docs = Seq(("A", "a b c"), ("B", "a b d")).toDF("doc_id", "text")
    val p = plan(graft.operators.Dedup.jaccardJoin(docs, 0.5))
    assert(!p.contains("CartesianProduct"), s"cartesian in jaccardJoin:\n$p")
    // the rare-first order is a compound SORT KEY, never a global
    // row_number over the vocabulary — only doc-partitioned windows
    assert(!p.contains("SinglePartition"), s"single-reducer stage:\n$p")
  }

  test("q_skyline: the quadratic step runs only on pruned candidates (broadcast), corpus stays linear") {
    val p = plan(WarehouseQueries.skylineQuery(spark, sf))
    // exactly one nested-loop is expected — the survivor²-sized exact
    // verify — and it must be the BROADCAST form (survivors are tiny),
    // never a shuffle-based cartesian over the corpus
    assert(p.contains("BroadcastNestedLoopJoin"), s"verify stage missing:\n$p")
    assert(!p.contains("CartesianProduct"), s"corpus-sized cartesian:\n$p")
  }

  test("q_assoc_rules: pair join is an equi-join on the basket key, totals broadcast") {
    val p = plan(WarehouseQueries.assocRules(spark, sf))
    assert(!p.contains("CartesianProduct") &&
      // the only nested-loop admissible is the broadcast 1-row basket
      // total; a non-broadcast one would be a corpus cross product
      !p.contains("ShuffledNestedLoop"), s"bad join shape:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-50 should avoid a global sort:\n$p")
  }

  test("dedup_lines: election shuffles hashes, reassembly joins on doc_id") {
    val df = PipelineQueries.entries("dedup_lines")(spark, sf)
    val p = plan(df)
    // no single-reducer stage: the first-occurrence window partitions
    // by the line hash, never globally
    assert(!p.contains("SinglePartition"), s"single-reducer stage:\n$p")
  }
}
