package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.tables.Tables._
import Det._

/** Warehouse analytics (SURVEY §2b): the "Spark SQL warehouse" north-star
  * capabilities — wide aggregates, join+agg+top-k, hierarchical rollup,
  * event-time windows, sessionization, as-of join, skew-resistant agg.
  */
object WarehouseQueries {

  /** TPC-H Q1-shaped wide aggregate: one pass, partial aggregation,
    * whole-stage codegen end to end. */
  def q1Agg(s: SparkSession, d: String): DataFrame = {
    val discPrice = col("l_extendedprice") * (lit(1.0) - col("l_discount"))
    val charge = discPrice * (lit(1.0) + col("l_tax"))
    lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(discPrice).as("sum_disc_price"),
        dsum(charge).as("sum_charge"),
        (dsum(col("l_quantity")) / count(lit(1))).as("avg_qty"),
        (dsum(col("l_extendedprice")) / count(lit(1))).as("avg_price"),
        (dsum(col("l_discount")) / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  /** TPC-H Q3-shaped: selective dim filter broadcast into a fact-fact
    * join, aggregate, top-k. The only shuffle is on the fact join key. */
  def q3JoinAgg(s: SparkSession, d: String): DataFrame = {
    val cust = customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val ord = orders(s, d).filter(col("o_orderdate") < lit("1995-03-15").cast("timestamp"))
    val li = lineitem(s, d).filter(col("l_shipdate") > lit("1995-03-15").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"), date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate"), col("o_orderpriority"))
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("l_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-shaped: five-way star join — two broadcast dims chained
    * into customer, then orders and the fact — with the region filter
    * pruning at the smallest table and riding the broadcast up.
    * Per-nation revenue for ASIA customers in 1996. */
  def q5LocalVolume(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .join(orders(s, d).filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("n_name"))

  /** TPC-H Q10-shaped: returned-item revenue per customer over one
    * quarter, top 20 — fact⋈fact on the order key, broadcast dims,
    * TakeOrdered tail. */
  def q10Returned(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(orders(s, d).filter(
        col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1996-04-01").cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy(desc("revenue"), col("c_custkey"))
      .limit(20)

  /** Exponentially-decayed engagement score per user (1-day half-life
    * against the corpus's max event time — a deterministic anchor, no
    * wall clock): the recency-weighted feature a ranking model
    * consumes. Each term's exp() rounds through DECIMAL(18,6) before
    * the sum (the lmScore pattern for transcendentals), so the oracle
    * is hash-exact. */
  def decayScore(s: SparkSession, d: String): DataFrame = {
    val anchor = events(s, d).agg(max(expr("unix_micros(ts)")).as("_tmax"))
    val decay = exp((expr("unix_micros(ts)") - col("_tmax")) /
      lit(86400000000.0) * log(lit(2.0)))
    events(s, d)
      .crossJoin(broadcast(anchor))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum((col("value") * decay).cast(DecimalType(18, 6)))
          .cast("double").as("score"))
      .orderBy("user_id")
  }

  /** Hierarchical totals region→nation via ROLLUP — grouping-sets in one
    * shuffle instead of three separate aggregates. */
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name").as("region"), col("n_name").as("nation"))
      .agg(count(lit(1)).as("n_suppliers"), dsum(col("s_acctbal")).as("total_bal"))
      .orderBy(col("region").asc_nulls_first, col("nation").asc_nulls_first)

  /** Event-time tumbling window aggregate — the batch shape of the
    * Structured Streaming job in graft.streaming. */
  def timeWindow(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .select(
        col("window.start").cast("long").as("wstart"),
        col("event_type"), col("n"), col("total"))
      .orderBy("wstart", "event_type")

  /** Sessionization by inactivity gap (30 min): lag → new-session flag →
    * running sum as session id → per-session aggregate. One shuffle on
    * user_id; windows and the final groupBy share the partitioning. */
  def sessionize(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapped = events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "new_sess",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1)
          .otherwise(0))
      .withColumn("sess", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    gapped
      .groupBy("user_id", "sess")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).cast("long").as("sess_start"),
        max(col("ts")).cast("long").as("sess_end"))
      .orderBy("user_id", "sess")
  }

  /** Top navigation paths: the 20 most common session-opening
    * event-type sequences (first 5 steps per session) — the product-
    * analytics "how do users actually move" query. Reuses the
    * q_sessionize construction; the path assembles per session from a
    * sorted struct collect (session-bounded arrays, never corpus
    * state) and the final top-k is a TakeOrderedAndProject over the
    * path counts. */
  def topPaths(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val gapped = events(s, d)
      .withColumn("prev_ts", lag("ts", 1).over(byUser))
      .withColumn(
        "new_sess",
        when(col("prev_ts").isNull ||
          col("ts").cast("double") - col("prev_ts").cast("double") > 1800.0, 1)
          .otherwise(0))
      .withColumn("sess", sum("new_sess").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val wSess = Window.partitionBy("user_id", "sess").orderBy("ts", "event_id")
    gapped
      .withColumn("_pos", row_number().over(wSess))
      .filter(col("_pos") <= 5)
      .groupBy("user_id", "sess")
      .agg(array_join(
        transform(sort_array(collect_list(struct(col("_pos"), col("event_type")))),
          x => x.getField("event_type")), ">").as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("path"))
      .limit(20)
  }

  /** Funnel latency: view → purchase conversion time distribution
    * (median / p90 in integer microseconds) over users whose first
    * purchase follows their first view. Two user-sized aggregates +
    * one group-sized percentile histogram — integer µs latencies make
    * the interpolation arithmetic identical cross-engine. */
  def funnelLatency(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val firstView = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(unix_micros(col("ts"))).as("vus"))
    val lat = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), unix_micros(col("ts")).as("pus"))
      .join(firstView, "user_id")
      .filter(col("pus") >= col("vus"))
      .groupBy("user_id")
      .agg((min(col("pus")) - min(col("vus"))).as("lat_us"))
    graft.operators.Percentiles.exact(
      lat.withColumn("_g", lit(1)), "_g", "lat_us",
      Seq(("p50_us", 0.5), ("p90_us", 0.9)))
      .crossJoin(broadcast(lat.agg(count(lit(1)).as("n_converted"))))
      .select(col("n_converted"),
        // round to ONE decimal µs: interpolated doubles at 1e11
        // magnitude carry ~1e-4 ulp — 6-decimal rounding can't absorb
        // engine evaluation-order differences there, 1-decimal does
        round(col("p50_us"), 1).as("p50_us"),
        round(col("p90_us"), 1).as("p90_us"))
  }

  /** Audience overlap between the viewer and purchaser cohorts by HLL
    * inclusion–exclusion — KB-sized sketches instead of shuffling both
    * cohorts' id sets (rows-only: sketch estimates; the ≤5%-of-exact
    * and planted-overlap invariants are spec'd). */
  def hllOverlapQuery(s: SparkSession, d: String): DataFrame = {
    // BOUND-CHECKED gate (r16 verdict #8): the sketch overlap still
    // runs (the key's point: KB-sized cohort sketches answer any
    // pairwise overlap post hoc), but each cohort estimate must land
    // within 10% of its exact distinct count, and the
    // inclusion–exclusion intersection within 10% of the UNION size
    // (its error is the sum of three estimates' errors, so it scales
    // with the union, not the overlap — the operator's own documented
    // caveat). The exact counts hash-verify against DuckDB.
    val ev = events(s, d)
    val a = ev.filter(col("event_type") === "view").select("user_id")
    val b = ev.filter(col("event_type") === "purchase").select("user_id")
    val est = graft.operators.Sketches.hllOverlap(a, b, "user_id")
    val ex = a.distinct().withColumn("_in_a", lit(1))
      .join(b.distinct().withColumn("_in_b", lit(1)), Seq("user_id"), "full_outer")
      .agg(
        sum("_in_a").as("exact_a"),
        sum("_in_b").as("exact_b"),
        sum(when(col("_in_a") === 1 && col("_in_b") === 1, 1L))
          .as("exact_intersection"))
    est.crossJoin(ex) // both sides are ONE row
      .select(
        col("exact_a"), col("exact_b"),
        coalesce(col("exact_intersection"), lit(0L)).as("exact_intersection"),
        (abs(col("est_a") - col("exact_a")) <= lit(0.10) * col("exact_a"))
          .as("a_ok"),
        (abs(col("est_b") - col("exact_b")) <= lit(0.10) * col("exact_b"))
          .as("b_ok"),
        (abs(col("est_intersection") -
            coalesce(col("exact_intersection"), lit(0L))) <=
          lit(0.10) * (col("exact_a") + col("exact_b"))).as("i_ok"))
  }

  /** Seasonal-naive forecast backtest: predict the LAST day's hourly
    * event counts per type from the prior days' same-hour totals
    * (count/D — zeros included via the dense 24-hour spine) and score
    * the mean absolute error. The simplest honest baseline every
    * forecasting pipeline starts from; all arithmetic is ratios and
    * differences of exact integer counts with per-term decimal
    * rounding. The train/test day split rides a one-scalar driver
    * anchor (bounded, like every other anchor here). */
  def forecastBacktest(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d).select(
      col("event_type"),
      expr("unix_micros(ts) div 86400000000").as("day"),
      expr("(unix_micros(ts) div 3600000000) % 24").as("hod"))
    val dMax = ev.agg(max("day")).head().getLong(0)
    // the DENOMINATOR is the number of distinct training days, not the
    // absolute epoch-day index (an earlier cut divided by dMax ≈ 19750
    // and predicted ~0 everywhere — a shared Spark/oracle bug the
    // parity gate is structurally blind to; caught in review)
    val nPrior = ev.filter(col("day") < dMax)
      .select(countDistinct("day")).head().getLong(0)
    val counts = ev.groupBy("event_type", "day", "hod")
      .agg(count(lit(1)).as("c"))
    val prior = counts.filter(col("day") < dMax)
      .groupBy("event_type", "hod").agg(sum("c").as("c_prior"))
    val actual = counts.filter(col("day") === dMax)
      .select(col("event_type"), col("hod"), col("c").as("c_actual"))
    val spine = ev.select("event_type").distinct()
      .select(col("event_type"), explode(sequence(lit(0L), lit(23L))).as("hod"))
    val scored = spine
      .join(prior, Seq("event_type", "hod"), "left")
      .join(actual, Seq("event_type", "hod"), "left")
      .select(col("event_type"),
        abs(coalesce(col("c_actual"), lit(0L)).cast("double") -
          coalesce(col("c_prior"), lit(0L)).cast("double") / lit(nPrior.toDouble))
          .cast(org.apache.spark.sql.types.DecimalType(18, 6)).as("ae"))
    scored.groupBy("event_type")
      .agg(round(sum(col("ae")).cast("double") / lit(24.0), 6).as("mae"))
      .orderBy("event_type")
  }

  /** Multi-touch attribution: every purchase credits the FIRST and the
    * LAST non-purchase event the same user emitted before it (the
    * first-touch / last-touch marketing models). One window pass over
    * events (single user_id shuffle), then the two credit assignments
    * unpivot through a 2-element explode so ONE aggregation produces
    * both models — no second pass over the fact. Per-channel output is
    * channel-cardinality-sized. */
  def attribution(s: SparkSession, d: String): DataFrame =
    attributionOf(events(s, d))

  private[graft] def attributionOf(ev: DataFrame): DataFrame = {
    val before = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val channel = when(col("event_type") =!= "purchase", col("event_type"))
    val credited = ev
      .withColumn("first_ch", first(channel, ignoreNulls = true).over(before))
      .withColumn("last_ch", last(channel, ignoreNulls = true).over(before))
      .filter(col("event_type") === "purchase" && col("first_ch").isNotNull)
    credited
      .select(explode(array(
        struct(col("first_ch").as("channel"), lit(1).as("is_first"), col("value")),
        struct(col("last_ch").as("channel"), lit(0).as("is_first"), col("value"))))
        .as("t"))
      .select("t.*")
      .groupBy("channel")
      .agg(
        count(when(col("is_first") === 1, lit(1))).as("n_first"),
        coalesce(dsum(when(col("is_first") === 1, col("value"))), lit(0.0))
          .as("rev_first"),
        count(when(col("is_first") === 0, lit(1))).as("n_last"),
        coalesce(dsum(when(col("is_first") === 0, col("value"))), lit(0.0))
          .as("rev_last"))
      .orderBy("channel")
  }

  /** Debounce dedup: drop an event arriving within `gap` of the
    * previous event with the same (user_id, event_type) — the
    * double-click / retry / at-least-once-delivery cleaner that exact
    * dedup (different event_ids) cannot express. One shuffle on the
    * key, a lag window, a filter; gap compares in MICROSECONDS so both
    * engines decide borderline rows identically. */
  def debounce(s: SparkSession, d: String): DataFrame =
    debounceOf(events(s, d), 1800L * 1000000L) // 30 min

  private[graft] def debounceOf(ev: DataFrame, gapUs: Long): DataFrame = {
    val w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    ev
      .withColumn("prev_ts", lag("ts", 1).over(w))
      .filter(col("prev_ts").isNull ||
        unix_micros(col("ts")) - unix_micros(col("prev_ts")) >= gapUs)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("ts_us"), col("value"))
      .orderBy("event_id")
  }

  /** First-order Markov transition matrix over each user's event
    * sequence: counts and probabilities of event_type → next
    * event_type, the session-flow / next-action model behind path
    * analysis and anomalous-sequence detection. One user_id shuffle
    * for the lead window, then a transition-cardinality-sized
    * aggregate (|types|² rows). The probability ships as integer PPM
    * (`n * 1e6 div total`) — exact on any engine, no decimal-division
    * scale rules to reconcile. */
  def transitions(s: SparkSession, d: String): DataFrame =
    transitionsOf(events(s, d))

  private[graft] def transitionsOf(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ev
      .withColumn("nxt", lead("event_type", 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type").as("cur"), col("nxt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("tot", sum("n").over(Window.partitionBy("cur")))
      .select(col("cur"), col("nxt"), col("n"),
        expr("CAST(n * 1000000 div tot AS BIGINT)").as("p_ppm"))
      .orderBy("cur", "nxt")
  }

  /** As-of join: for every `error` event, the most recent `signup` by
    * the same user at ts <= error ts. Implemented as the union+window
    * trick: tag both sides, one shuffle on user_id, carry the last
    * non-null signup ts forward — no row replication, no range cross
    * product, scales linearly in events. */
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .filter(col("event_type").isin("error", "signup"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
    // at equal ts the signup sorts first so `<=` semantics hold
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts"), when(col("event_type") === "signup", 0).otherwise(1), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.withColumn("signup_ts",
        last(when(col("event_type") === "signup", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(
        col("event_id"), col("user_id"),
        col("ts").cast("long").as("ts_s"),
        col("signup_ts").cast("long").as("signup_ts_s"))
      .orderBy("event_id")
  }

  /** Skew-resistant aggregation: two-phase salted aggregate over a
    * low-cardinality (hence skewed) key. Phase 1 fans each hot key over
    * 16 salts; phase 2 combines the 16 partials — the second shuffle
    * moves key-cardinality × 16 rows, not data-sized rows. */
  def skewAgg(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(col("event_type"), pmod(col("event_id"), lit(16)).as("salt"))
      .agg(
        count(lit(1)).as("pn"),
        sum(col("value").cast(DecimalType(18, 6))).as("ps"))
      .groupBy("event_type")
      .agg(sum("pn").as("n_events"), sum("ps").cast("double").as("total"))
      .orderBy("event_type")

  /** Skew-resistant JOIN (the join-side companion of q_skew_agg):
    * events join a per-type dimension on event_type — five distinct
    * values over the whole fact, the worst static skew a shuffled join
    * can see (each key is one reducer). Joins.saltedJoin spreads every
    * key over 8 salts and replicates the dim 8×, so the shuffle key is
    * (event_type, salt) and no reducer owns a whole type. Results are
    * identical to the plain join — the oracle IS the plain join. */
  def skewJoin(s: SparkSession, d: String): DataFrame = {
    val dim = events(s, d).select(col("event_type").as("dim_type")).distinct()
      .withColumn("type_label", upper(col("dim_type")))
    graft.operators.Joins.saltedJoin(
      events(s, d).select("event_id", "event_type", "value"),
      dim, "event_type", "dim_type", salts = 8)
      .select("event_id", "event_type", "type_label", "value")
      .orderBy("event_id")
  }

  /** Fact⋈fact join over BUCKETED layouts: lineitem and orders land
    * once as 16-bucket tables hashed on the order key, and the join
    * between them plans with no exchange on either side — the write-
    * once/join-many co-location the 100 TB recurring-ETL join needs
    * (BucketedJoinSpec pins the zero-Exchange, SelectedBucketsCount
    * plan facts). The RESULT is the plain join, so the oracle is the
    * plain join+agg. */
  def bucketJoin(s: SparkSession, d: String): DataFrame = {
    val fp = PipelineQueries.datasetFingerprint(d, "lineitem.parquet")
    val tmp = sys.props("java.io.tmpdir")
    val li = graft.storage.Bucketed.ensure(s, s"graft_li_bucketed_$fp",
      lineitem(s, d).select("l_orderkey", "l_extendedprice"),
      "l_orderkey", 16, s"$tmp/graft_bucket_li_$fp")
    val ord = graft.storage.Bucketed.ensure(s, s"graft_ord_bucketed_$fp",
      orders(s, d).select("o_orderkey", "o_orderpriority"),
      "o_orderkey", 16, s"$tmp/graft_bucket_ord_$fp")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"), dsum(col("l_extendedprice")).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Batch-parity query for the streaming windowed-count job
    * (graft.streaming.StreamJobs) — same window spec, counts only. */
  def streamWindowCounts(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").cast("long").as("wstart"), col("event_type"), col("n"))
      .orderBy("wstart", "event_type")

  /** Grouped exact distinct counts — Catalyst plans the expand +
    * two-phase aggregate; at scale the partial distinct runs map-side. */
  def distinctCount(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(countDistinct("l_partkey").as("n_parts"), count(lit(1)).as("n_rows"))
      .orderBy("l_suppkey")

  /** Sketch-based distinct counts (HyperLogLog++): constant memory per
    * group regardless of cardinality — the 100 TB answer when exact
    * distinct's expand-shuffle is too expensive. Rows-only (sketch
    * estimates are engine-specific); the spec bounds the error vs
    * exact. */
  def approxDistinct(s: SparkSession, d: String): DataFrame = {
    // Deliberately TWO single-purpose aggregates joined on the group
    // key: mixing a distinct agg with the HLL sketch in one Aggregate
    // makes Catalyst plan an Expand, and the partial aggregate then
    // carries an HLL buffer per (group × distinct value) — O(G·D)
    // ~KB-sized sketch buffers (benched 4× slower here, OOM-shaped at
    // scale). Separately each pass keeps O(G) state and the join is
    // group-cardinality-sized.
    val approx = lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(approx_count_distinct(col("l_partkey"), rsd = 0.02).as("approx_parts"))
    val exact = lineitem(s, d)
      .groupBy("l_suppkey")
      .agg(countDistinct("l_partkey").as("exact_parts"))
    // null-safe join key: a null group (legal for the general operator,
    // absent in TPC-H) appears in BOTH aggregates, and a plain equi-join
    // would silently drop it — <=> keeps semantics identical to the
    // single-aggregate form
    // BOUND-CHECKED gate (r16 verdict #8): the exact column is
    // hash-verified against DuckDB, and the sketch's estimate must sit
    // within 5× its configured rsd (0.02 → 10%) of it — a healthy
    // HLL++ passes with overwhelming margin; a broken sketch (or a
    // broken merge) flips bound_ok to false and the driver gate FAILS
    // the key instead of recording `no_oracle`. The estimate itself
    // stays engine-specific and is deliberately not in the output.
    approx.join(exact, approx("l_suppkey") <=> exact("l_suppkey"))
      .select(approx("l_suppkey"), col("exact_parts"),
        (abs(col("approx_parts").cast("double") - col("exact_parts")) <=
          lit(0.10) * col("exact_parts")).as("bound_ok"))
      .orderBy("l_suppkey")
  }

  /** Incremental distinct-users rollup (graft.operators.Sketches): the
    * events table slices by day into per-(day, type) HLL sketch rows,
    * and the per-type distinct-user answer is a merge over those rows —
    * the pattern that answers any-window distinct questions at 100 TB
    * without rescanning events. Rows-only (sketch estimates are
    * engine-specific); the spec pins combine ≡ single-pass exactly and
    * brackets the error vs exact distinct. */
  def hllRollup(s: SparkSession, d: String): DataFrame = {
    // BOUND-CHECKED gate (r16 verdict #8): the per-type answer still
    // comes from the slice-and-merge path (the key's whole point: any
    // window answers from KB-sized sketch rows, no event rescans), but
    // the merged estimate must land within 10% (≈6× the lgK=12 rsd)
    // of the exact distinct count, which is itself hash-verified
    // against DuckDB. A broken merge flips bound_ok to false and
    // FAILS the gate instead of recording `no_oracle`.
    val slices = graft.operators.Sketches.hllSlices(
      events(s, d), expr("unix_micros(ts) div 86400000000"),
      Seq("event_type"), "user_id")
    val approx = graft.operators.Sketches.hllCombine(slices, Seq("event_type"))
    val exact = events(s, d).groupBy("event_type")
      .agg(countDistinct("user_id").as("exact_users"))
    approx.join(exact, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_distinct").cast("double") - col("exact_users")) <=
          lit(0.10) * col("exact_users")).as("bound_ok"))
      .orderBy("event_type")
  }

  /** Top-3 rows per group via the custom TopKPerGroup operator
    * (graft.plans): partial map-side k-heaps cap the shuffle at
    * k·groups rows per partition and nothing is fully sorted — the
    * whole-operator upgrade over the row_number window form. */
  def topkGroup(s: SparkSession, d: String): DataFrame =
    graft.plans.TopK.topKPerGroup(
      lineitem(s, d).select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice"),
      groupCols = Seq(col("l_suppkey")),
      orderCols = Seq(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber")),
      k = 3)
      .orderBy(col("l_suppkey"), desc("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))

  /** Semi-structured extraction: pull typed fields out of a JSON string
    * column (events.props). get_json_object is codegen'd and needs no
    * schema discovery pass; a fixed schema would use from_json. */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy("event_id")

  /** Exact interpolated percentiles per group via the histogram-shaped
    * Percentiles.exact — NOT the built-in `percentile` aggregate, whose
    * value→count OpenHashMap per group ships every distinct value
    * through the shuffle and merges a group's whole value set on one
    * reducer (O(distinct) memory on a single task; the first casualty
    * on a 100 TB fact with 3 groups). The histogram form's only
    * corpus-sized shuffle is a map-side-combinable groupBy count.
    * Same number: linear interpolation at rank p·(n-1), matching
    * DuckDB quantile_cont modulo one ulp, absorbed by round(4). */
  def percentiles(s: SparkSession, d: String): DataFrame =
    // r18: the plan DISPATCHER picks per value column — histogram
    // while the probe's distinct estimate stays under
    // graft.quantiles.maxHistogramDistinct (all of a column's
    // quantiles share its one shuffle; the regime at this key's NDVs),
    // bucket refinement above it (a near-unique column at 100 TB makes
    // the histogram corpus-sized — ScaleCheckQuantiles at commit
    // 2375eab measured 105× the shuffled bytes at 10^8 rows). Values
    // identical either way.
    graft.operators.Percentiles.adaptiveExactMulti(
      lineitem(s, d), "l_returnflag",
      Seq(
        ("med_qty", "l_quantity", 0.5),
        ("q1_price", "l_extendedprice", 0.25),
        ("q3_price", "l_extendedprice", 0.75)))
      .select(
        col("l_returnflag"),
        round(col("med_qty"), 4).as("med_qty"),
        round(col("q1_price"), 4).as("q1_price"),
        round(col("q3_price"), 4).as("q3_price"))
      .orderBy("l_returnflag")

  /** Sketch percentiles (Greenwald-Khanna summaries): bounded memory
    * per group regardless of value cardinality — the 100 TB companion
    * to q_percentile the same way q_approx_distinct pairs with
    * q_distinct_count. Rows-only (sketch internals are
    * engine-specific); the spec bounds the rank error vs the exact
    * histogram percentiles. */
  def approxPercentiles(s: SparkSession, d: String): DataFrame = {
    // BOUND-CHECKED gate (r16 verdict #8): percentile_approx promises
    // a value whose RANK is within 1/accuracy of the target — checked
    // here by bracketing each estimate between the EXACT percentiles
    // at p ± 50/accuracy (generous: 50× the bound), via the same
    // histogram plan q_percentile hash-verifies. The exact medians in
    // the output are themselves hash-verified against DuckDB's
    // quantile_cont; a sketch regression flips a *_ok to false and
    // FAILS the gate instead of recording `no_oracle`.
    val eps = 50.0 / 10000
    val approx = lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        percentile_approx(col("l_quantity"), lit(0.5), lit(10000)).as("a_med"),
        percentile_approx(col("l_extendedprice"), lit(0.25), lit(10000)).as("a_q1"),
        percentile_approx(col("l_extendedprice"), lit(0.75), lit(10000)).as("a_q3"))
    // 9 quantiles over 2 columns: the histogram plan shares ONE
    // shuffle per column across all of a column's targets — cheaper
    // here than refinement's per-pass jobs (measured 2.2 s vs 3.6 s)
    val exact = graft.operators.Percentiles.exactMulti(
      lineitem(s, d), "l_returnflag", Seq(
        ("med_qty", "l_quantity", 0.5),
        ("med_lo", "l_quantity", 0.5 - eps), ("med_hi", "l_quantity", 0.5 + eps),
        ("q1_price", "l_extendedprice", 0.25),
        ("q1_lo", "l_extendedprice", 0.25 - eps), ("q1_hi", "l_extendedprice", 0.25 + eps),
        ("q3_price", "l_extendedprice", 0.75),
        ("q3_lo", "l_extendedprice", 0.75 - eps), ("q3_hi", "l_extendedprice", 0.75 + eps)))
    approx.join(exact, Seq("l_returnflag"))
      .select(col("l_returnflag"),
        round(col("med_qty"), 4).as("med_qty"),
        round(col("q1_price"), 4).as("q1_price"),
        round(col("q3_price"), 4).as("q3_price"),
        col("a_med").between(col("med_lo"), col("med_hi")).as("med_ok"),
        col("a_q1").between(col("q1_lo"), col("q1_hi")).as("q1_ok"),
        col("a_q3").between(col("q3_lo"), col("q3_hi")).as("q3_ok"))
      .orderBy("l_returnflag")
  }

  /** Unpivot (melt): wide metric columns → (metric, value) rows via
    * `stack` — the inverse of q_pivot_wide, one generator pass. */
  def unpivot(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        expr("stack(3, 'qty', l_quantity, 'price', l_extendedprice, 'disc', l_discount) AS (metric, value)"))
      .orderBy("l_orderkey", "l_linenumber", "metric", "value")

  /** CUBE over two dims — all four grouping sets in one shuffle. */
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .cube(col("l_returnflag").as("rflag"), col("l_linestatus").as("lstatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("qty"))
      .orderBy(col("rflag").asc_nulls_first, col("lstatus").asc_nulls_first)

  /** Grouped correlation / covariance / stddev between quantity and
    * price via graft.operators.Stats — decimal moment sums, one
    * group-sized shuffle, bit-identical final doubles (the built-in
    * corr/stddev aggregates are the everyday path; this is the
    * reproducible audit form). */
  def corrStats(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.corrStats(
      lineitem(s, d), "l_returnflag", "l_quantity", "l_extendedprice")
      .orderBy("l_returnflag")

  /** Grouped OLS fit of price on quantity — q_corr_stats' regression
    * companion from the same exact decimal moments. */
  def regression(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.olsRegression(
      lineitem(s, d), "l_returnflag", "l_quantity", "l_extendedprice")
      .orderBy("l_returnflag")

  /** Market-basket association rules over order baskets: which parts
    * co-occur in an order beyond chance. The within-basket pair join
    * is quadratic in BASKET size only (TPC-H orders hold ≤ 7 lines);
    * everything else is partial-aggregable counts. All metrics are
    * ratios of exact int64 counts — bit-identical cross-engine. */
  def assocRules(s: SparkSession, d: String): DataFrame =
    graft.operators.Assoc.rules(
      lineitem(s, d).select(col("l_orderkey"), col("l_partkey")),
      "l_orderkey", "l_partkey", minPairSupport = 2L)
      .orderBy(desc("lift"), col("antecedent"), col("consequent"))
      .limit(50)

  /** Pareto frontier of the part catalog — cheapest part for its
    * size. The oracle states the quadratic NOT EXISTS definition; the
    * Spark plan runs the linear staircase prune + small exact verify
    * (see [[graft.operators.Skyline]]) and must produce the identical
    * frontier. */
  def skylineQuery(s: SparkSession, d: String): DataFrame =
    graft.operators.Skyline.skyline2(
      part(s, d).select(col("p_partkey"), col("p_name"),
        col("p_retailprice"), col("p_size")),
      "p_retailprice", "p_size")
      .orderBy("p_retailprice", "p_partkey")

  /** Retrieval-metric evaluation (NDCG@10 / MRR / P@10) of a
    * deterministic ranking against graded account-balance relevance,
    * per nation — the eval loop for every ranking operator here,
    * exercised on inputs both engines can derive exactly: the
    * "retrieval run" is the md5 permutation of each nation's
    * customers, the truth grades acctbal > 7500 as 2 and > 0 as 1. */
  def rankEvalQuery(s: SparkSession, d: String): DataFrame = {
    val c = customer(s, d)
      .select(col("c_nationkey").as("query_id"),
        col("c_custkey").as("item_id"), col("c_acctbal"))
    val w = Window.partitionBy("query_id")
      .orderBy(md5(concat_ws("#", col("query_id"), col("item_id"))),
        col("item_id"))
    val pred = c.withColumn("rank", row_number().over(w))
      .select("query_id", "item_id", "rank")
    val truth = c.filter(col("c_acctbal") > 0)
      .select(col("query_id"), col("item_id"),
        when(col("c_acctbal") > 7500, lit(2)).otherwise(lit(1)).as("rel"))
    graft.operators.Stats.rankEval(pred, truth, k = 10)
      .orderBy("query_id")
  }

  /** Group-wise ROC AUC: does order value "predict" an F status,
    * per priority class — [[Stats.auc]]'s Mann-Whitney rank form with
    * scikit-learn's average-rank tie handling, on inputs both engines
    * derive exactly (integer rank sums, one division, round 6). */
  def aucQuery(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.auc(
      orders(s, d).select(col("o_orderpriority"), col("o_totalprice"),
        when(col("o_orderstatus") === "F", lit(1)).otherwise(lit(0))
          .as("label")),
      "o_orderpriority", "o_totalprice", "label")

  /** Calibration table of a pseudo-probability (order value scaled
    * into [0,1] by a FIXED divisor — data-independent, so both
    * engines derive the identical score) against the F-status label:
    * [[Stats.calibration]]'s equal-width reliability bins. */
  def calibrationQuery(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.calibration(
      orders(s, d).select(
        (col("o_totalprice") / lit(600000.0)).as("score"),
        when(col("o_orderstatus") === "F", lit(1)).otherwise(lit(0))
          .as("label")),
      "score", "label")

  /** Precision/recall operating-point table of the same
    * pseudo-probability [[calibrationQuery]] scores — [[Stats.prCurve]]
    * at the default 10 equal-width thresholds. */
  def prQuery(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.prCurve(
      orders(s, d).select(
        (col("o_totalprice") / lit(600000.0)).as("score"),
        when(col("o_orderstatus") === "F", lit(1)).otherwise(lit(0))
          .as("label")),
      "score", "label")

  /** Robust outlier accounting per return flag: median / MAD /
    * beyond-3-MADs count of the price column — [[Stats.madOutliers]]
    * over the proven exact-percentile histogram plan. */
  def madOutliers(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.madOutliers(
      lineitem(s, d), "l_returnflag", "l_extendedprice", k = 3.0)
      .orderBy("l_returnflag")

  /** Chi-square contingency cells of return flag × line status — the
    * categorical-association audit, all cells from exact counts. */
  def chiSquare(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.chiSquare(
      lineitem(s, d), "l_returnflag", "l_linestatus")
      .orderBy("l_returnflag", "l_linestatus")

  /** Winsorization — clip each row's price into its group's
    * [p05, p95] band (the standard heavy-tail taming transform before
    * averaging or training). Bounds come from the exact-percentile
    * histogram plan, join back group-sized, and the clip itself is a
    * codegen'd least/greatest projection — the corpus never shuffles
    * for the transform, only for the bounds' histogram. */
  def winsorize(s: SparkSession, d: String): DataFrame = {
    // refinement selection (r17): l_extendedprice is near-unique, so
    // the histogram plan's sort-window was corpus-sized; the bounds
    // resolve in shared bounded passes. r19: they attach as literal
    // when-chains instead of a broadcast-joined literal frame — the
    // clip query is then a pure projection + sort over one scan, with
    // no literal-frame parallelize job and no join (guide §5/§2.4).
    // The replaced equi-join kept a row iff its (non-null) flag had a
    // bounds row; the seed enumerates every flag, so only null-flag
    // rows could drop — the isNotNull filter reproduces that exactly.
    val (groups, valueMap) = graft.operators.Percentiles
      .refinedExactMultiValues(lineitem(s, d), "l_returnflag",
        Seq(("_lo", "l_extendedprice", 0.05), ("_hi", "l_extendedprice", 0.95)))
    val loC = graft.operators.Quantiles.litChain(col("l_returnflag"),
      groups.map(g => g -> valueMap(g)(0)), nullSafe = false)
    val hiC = graft.operators.Quantiles.litChain(col("l_returnflag"),
      groups.map(g => g -> valueMap(g)(1)), nullSafe = false)
    val base = lineitem(s, d)
      .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice")
    val clipped = (loC, hiC) match {
      case (Some(lo), Some(hi)) =>
        base.filter(col("l_returnflag").isNotNull)
          .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
            col("l_extendedprice"), lo.as("_lo"), hi.as("_hi"))
      case _ =>
        val gField = org.apache.spark.sql.types.StructField(
          "_g", base.schema("l_returnflag").dataType, nullable = true)
        base.join(graft.operators.Quantiles.litFrameMulti(s, gField,
            Seq("_lo", "_hi"), valueMap)
          .withColumnRenamed("_mg", "l_returnflag"), Seq("l_returnflag"))
    }
    clipped
      .select(
        col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
        col("l_extendedprice"),
        round(least(greatest(col("l_extendedprice"), col("_lo")), col("_hi")), 6)
          .as("price_w"))
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag",
        "l_extendedprice", "price_w")
  }

  /** Percent-of-total: each return flag's share of corpus revenue —
    * the everyday composition metric. Group revenue and the total are
    * both exact decimal sums; the total rides a broadcast one-row
    * anchor (never a single-reducer window). */
  def revenueShare(s: SparkSession, d: String): DataFrame = {
    val rev = dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
    val byFlag = lineitem(s, d).groupBy("l_returnflag").agg(rev.as("revenue"))
    val total = lineitem(s, d).agg(rev.as("_total"))
    byFlag.crossJoin(broadcast(total))
      .select(col("l_returnflag"), col("revenue"),
        round(col("revenue") / col("_total"), 6).as("share"))
      .orderBy("l_returnflag")
  }

  /** Trailing one-hour moving average per event type — a RANGE window
    * frame over event time (q_running_sum's ROWS frame counts rows;
    * analytics over streams usually wants wall-clock trailing windows).
    * Ordering on integer µs keeps the frame arithmetic and tie
    * semantics (RANGE includes peers) identical on both engines; the
    * windowed sum accumulates in DECIMAL for the usual reason. */
  def movingAvg(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("event_type").orderBy("tsu")
      .rangeBetween(-3600000000L, 0L)
    events(s, d)
      .select(col("event_id"), col("event_type"),
        expr("unix_micros(ts)").as("tsu"), col("value"))
      .select(
        col("event_id"), col("event_type"), col("tsu"),
        count(lit(1)).over(w).as("n_win"),
        round(
          sum(col("value").cast(DecimalType(18, 6))).over(w).cast("double")
            / count(lit(1)).over(w), 6).as("win_avg"))
      .orderBy("event_id")
  }

  /** Distribution window functions — ntile deciles, percent_rank,
    * cume_dist — the ranking-analytics family q_window_rank's
    * row_number doesn't cover. The window ORDER is a unique composite,
    * so tie-dependent semantics can't diverge between engines. */
  def distributionWindows(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag")
      .orderBy("l_extendedprice", "l_orderkey", "l_linenumber")
    lineitem(s, d)
      .filter(col("l_suppkey") <= 3)
      .select(
        col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        ntile(10).over(w).as("decile"),
        round(percent_rank().over(w), 6).as("pct_rank"),
        round(cume_dist().over(w), 6).as("cdist"))
      .orderBy("l_returnflag", "l_orderkey", "l_linenumber")
  }

  /** Time-series resample: the per-(type, hour) aggregate re-gridded
    * onto a DENSE hourly spine (the events table really has 30-50
    * empty hours per type) — counts zero-fill, totals zero-fill, and a
    * forward-fill (LOCF) column carries the last observed total across
    * gaps. The spine generates from each type's own min/max hour via
    * `sequence` — no driver hop, interval-bounded explode. */
  def resample(s: SparkSession, d: String): DataFrame = {
    val hourly = events(s, d)
      .groupBy(col("event_type"), expr("unix_micros(ts) div 3600000000").as("hr"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
    val spine = hourly.groupBy("event_type")
      .agg(min("hr").as("mn"), max("hr").as("mx"))
      .select(col("event_type"), explode(sequence(col("mn"), col("mx"))).as("hr"))
    val ffill = Window.partitionBy("event_type").orderBy("hr")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(hourly, Seq("event_type", "hr"), "left")
      .select(
        col("event_type"), col("hr"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("total"), lit(0.0)).as("total"),
        last(col("total"), ignoreNulls = true).over(ffill).as("ffill_total"))
      .orderBy("event_type", "hr")
  }

  /** Per-row feature standardization via graft.operators.Stats.zscore:
    * group moments joined back, bit-identical doubles (q_corr_stats'
    * per-row companion). */
  def zscoreQuery(s: SparkSession, d: String): DataFrame =
    graft.operators.Stats.zscore(
      lineitem(s, d)
        .filter(col("l_suppkey") <= 3)
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_extendedprice"),
      "l_returnflag", "l_extendedprice")
      .select("l_orderkey", "l_linenumber", "l_returnflag", "zscore")
      .orderBy("l_orderkey", "l_linenumber", "l_returnflag", "zscore")

  /** Running (cumulative) revenue per supplier in ship order. The
    * window sum accumulates in DECIMAL so every prefix is exact —
    * double prefixes would drift from the oracle one ulp at a time. */
  def runningSum(s: SparkSession, d: String): DataFrame = {
    // price joins the sort keys so fully-tied rows are identical and
    // the prefix-sum multiset is engine-order-independent
    val w = Window.partitionBy("l_suppkey")
      .orderBy("l_shipdate", "l_orderkey", "l_linenumber", "l_extendedprice")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    lineitem(s, d)
      .filter(col("l_suppkey") <= 3)
      .select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        sum(col("l_extendedprice").cast(DecimalType(18, 6))).over(w)
          .cast("double").as("running_rev"))
      .orderBy("l_suppkey", "running_rev", "l_orderkey", "l_linenumber")
  }

  /** Per-user inter-event gap via lag — the feature-engineering shape
    * (previous-row deltas) over an event stream. */
  def lagDelta(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events(s, d)
      .select(
        col("event_id"), col("user_id"),
        (col("ts").cast("long") - lag(col("ts").cast("long"), 1).over(w)).as("gap_s"))
      .orderBy("event_id")
  }

  /** Set operations: parts sold in both halves of the year vs only the
    * first — INTERSECT/EXCEPT plan as aggregated semi/anti joins. */
  def setOps(s: SparkSession, d: String): DataFrame = {
    val h1 = lineitem(s, d)
      .filter(month(col("l_shipdate")) <= 6).select("l_partkey")
    val h2 = lineitem(s, d)
      .filter(month(col("l_shipdate")) > 6).select("l_partkey")
    h1.intersect(h2).withColumn("bucket", lit("both"))
      .unionAll(h1.except(h2).withColumn("bucket", lit("h1_only")))
      .orderBy("bucket", "l_partkey")
  }

  /** Ordered string aggregation — deterministic via sorted collect
    * (collect_list order is partition-dependent, array_sort fixes it;
    * the oracle's string_agg ORDER BY matches). */
  def stringAgg(s: SparkSession, d: String): DataFrame =
    supplier(s, d)
      .join(broadcast(nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(array_join(array_sort(collect_list(col("s_name"))), ",").as("suppliers"))
      .orderBy("n_name")

  /** Explicit GROUPING SETS + grouping() markers — the generalized
    * rollup/cube form, one shuffle for all sets. */
  def groupingSets(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupingSets(
        Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).as("g_rflag"),
        grouping(col("l_linestatus")).as("g_lstatus"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)

  /** min_by/max_by: first/last event type per user by event time —
    * argmin/argmax without a window pass. */
  def minmaxBy(s: SparkSession, d: String): DataFrame =
    events(s, d)
      .groupBy("user_id")
      .agg(
        min_by(col("event_type"), col("ts")).as("first_type"),
        max_by(col("event_type"), col("ts")).as("last_type"),
        count(lit(1)).as("n"))
      .orderBy("user_id")

  /** Conditional aggregation: FILTER-style counts and sums in one
    * pass — no self-joins, no second scan. */
  def conditionalAgg(s: SparkSession, d: String): DataFrame =
    lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(
        count_if(col("l_quantity") > 25).as("n_big"),
        sum(when(col("l_quantity") > 25, col("l_extendedprice"))
          .cast(DecimalType(18, 6))).cast("double").as("big_rev"),
        count(lit(1)).as("n"))
      .orderBy("l_returnflag")

  /** Vector norms via the native DotProduct expression, SQL-checkable
    * against DuckDB's list_dot_product over DOUBLE[]. */
  def vecNorm(s: SparkSession, d: String): DataFrame =
    embeddings(s, d)
      .select(
        col("vec_id"),
        round(sqrt(graft.functions.VectorFunctions.vec_dot(col("embedding"), col("embedding"))), 6).as("norm"),
        round(array_max(col("embedding")).cast("double"), 6).as("max_elem"))
      .orderBy("vec_id")

  /** Upsert/merge: corrections (every 10th order, repriced) replace
    * their originals; untouched rows survive — the reference's
    * PK-load INSERT pattern as a single declarative merge. */
  def upsert(s: SparkSession, d: String): DataFrame = {
    val existing = orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    // decimal-exact reprice: double*1.1 + round() straddles rounding
    // midpoints differently per engine; decimal math never does
    val updates = existing
      .filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double"))
      .withColumn("o_orderstatus", lit("R"))
    graft.operators.Upsert.mergeByKey(existing, updates, Seq("o_orderkey"))
      .orderBy("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
  }

  /** Primary-key uniqueness audit (Upsert.pkViolations): the
    * reference's PK constraints (gwas_ddl.sql:42-64) as the standing
    * detection query an immutable lake runs after every load —
    * Postgres rejects the duplicate insert, a parquet table can only
    * find it. The fixture re-appends every 100th order, so the audit
    * must surface exactly those keys with their counts. */
  def pkAudit(s: SparkSession, d: String): DataFrame = {
    val o = orders(s, d).select("o_orderkey")
    graft.operators.Upsert.pkViolations(
      o.unionAll(o.filter(col("o_orderkey") % 100 === 0)), Seq("o_orderkey"))
      .orderBy("o_orderkey")
  }

  /** The four expectation rules both DQ queries share: two that fail on
    * real rows (quantities over 40, tax over 5%), one that holds
    * everywhere (positive quantity), one date-ordering invariant. */
  private def dqRules: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    "qty_le_40" -> (col("l_quantity") <= 40),
    "tax_le_5pct" -> (col("l_tax") <= 0.05),
    "qty_pos" -> (col("l_quantity") > 0),
    "flag_domain" -> col("l_returnflag").isin("A", "N", "R"))

  /** Expectations audit: one-scan per-rule violation tally
    * (graft.operators.Check.audit). */
  def dqAudit(s: SparkSession, d: String): DataFrame =
    graft.operators.Check.audit(lineitem(s, d), dqRules)

  /** Expectations quarantine: rows failing any rule, tagged with what
    * they violated (graft.operators.Check.quarantine). */
  def dqQuarantine(s: SparkSession, d: String): DataFrame =
    graft.operators.Check.quarantine(
      lineitem(s, d).select("l_orderkey", "l_linenumber", "l_quantity", "l_tax"),
      dqRules.take(2))
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_tax", "failed_rules")

  /** Post-load profiling audit over four lineitem measures — see
    * graft.operators.Profile (exact mode here so DuckDB checks every
    * number). */
  def profileQuery(s: SparkSession, d: String): DataFrame =
    graft.operators.Profile.profile(lineitem(s, d),
      Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax"))

  /** Weekly cohort retention: users grouped by the 7-day bucket of
    * their FIRST event; for each later bucket, the fraction still
    * active. Buckets are fixed 7-day spans from the epoch (integer µs
    * division — identical on both engines, no calendar-week
    * divergence). Shape: per-user min (partial-agg), one fact re-join
    * on user_id, distinct on (cohort, offset, user) so a chatty user
    * counts once, then a cohort-sized aggregate + window for the
    * offset-0 denominator. */
  def retention(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
      .select(col("user_id"), expr("unix_micros(ts) div 604800000000").as("wk"))
    val first = ev.groupBy("user_id").agg(min("wk").as("cohort_week"))
    val active = ev.join(first, "user_id")
      .select(col("user_id"), col("cohort_week"),
        (col("wk") - col("cohort_week")).as("week_offset"))
      .distinct()
    val counts = active.groupBy("cohort_week", "week_offset")
      .agg(count(lit(1)).as("n_active"))
    val cohort = Window.partitionBy("cohort_week")
    counts
      .withColumn("retention",
        round(col("n_active") /
          max(when(col("week_offset") === 0, col("n_active"))).over(cohort), 6))
      .orderBy("cohort_week", "week_offset")
  }

  /** Three-step ordered conversion funnel (view → click → purchase)
    * over the event stream, via the N-step operator
    * (graft.operators.Funnel): a click counts only AFTER the user's
    * first view, a purchase only after such a click. Time comparisons
    * run at µs on both engines (Spark's native precision; the oracle
    * goes through epoch_us), ties broken by event_id. */
  def funnel(s: SparkSession, d: String): DataFrame =
    graft.operators.Funnel.funnel(events(s, d), Seq("view", "click", "purchase"))
      .select(col("n_step1").as("n_view"), col("n_step2").as("n_view_click"),
        col("n_step3").as("n_full_funnel"))
      .orderBy("n_view")

  /** Bloom-filter semi-join reduction via Joins.bloomJoin: lineitems of
    * the high-value orders (~10% of the dim). The bloom prunes ~90% of
    * the fact scan before any shuffle; the exact join after it makes
    * the result identical to the plain join, so the oracle is ordinary
    * SQL — the bloom is a transparent shuffle reducer, not a semantics
    * change. */
  def bloomJoinQuery(s: SparkSession, d: String): DataFrame = {
    val hi = orders(s, d)
      .filter(col("o_totalprice") > 450000)
      .select("o_orderkey", "o_orderpriority")
    graft.operators.Joins.bloomJoin(
      lineitem(s, d).select("l_orderkey", "l_extendedprice", "l_discount"),
      hi, "l_orderkey", "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Interval-overlap (range) join via Joins.rangeJoin — each order's
    * first line (a "marker" at position l_partkey) matched to every
    * synthetic interval containing it. The binned equi-join form keeps
    * the plan a shuffled hash/sort-merge join; a naive BETWEEN join
    * would be a BroadcastNestedLoopJoin that dies when neither side
    * fits in a broadcast at 100 TB. */
  def rangeJoinQuery(s: SparkSession, d: String): DataFrame = {
    val pts = lineitem(s, d)
      .filter(col("l_linenumber") === 1)
      .select(col("l_orderkey"), col("l_partkey").as("pos"))
    val istart = (col("p_partkey") * 7) % 1500
    val iv = part(s, d).select(
      col("p_partkey").as("interval_id"),
      istart.as("istart"),
      (istart + (col("p_size") % 4)).as("iend"))
    graft.operators.Joins.rangeJoin(pts, "pos", iv, "istart", "iend", binSize = 8)
      .select("interval_id", "l_orderkey", "pos", "istart", "iend")
      .orderBy("interval_id", "l_orderkey", "pos", "istart", "iend")
  }

  /** SCD Type 2 history: the repriced orders (q_upsert's change feed)
    * applied to a versioned dimension — changed keys close their
    * current row at the effective date and open a new version, so the
    * table answers "what did this order look like on date X". */
  def scd2(s: SparkSession, d: String): DataFrame = {
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("valid_from", lit("1992-01-01"))
      .withColumn("valid_to", lit(null).cast("string"))
    val changes = orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(
        col("o_orderkey"),
        lit("R").as("o_orderstatus"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double").as("o_totalprice"))
    graft.operators.Upsert.scdType2(
      dim, changes, Seq("o_orderkey"),
      Seq("o_orderstatus", "o_totalprice"), effectiveDate = "1995-06-01")
      .orderBy("o_orderkey", "valid_from")
  }

  /** AS-OF lookup against the q_scd2 history: each changed order
    * probed at a pre-change and a post-change date must resolve to its
    * original and repriced version respectively — the read side every
    * SCD2 dimension exists for ("what did this order look like on
    * date X"), planned as an equi-join with the validity window as a
    * residual predicate. */
  def scd2Lookup(s: SparkSession, d: String): DataFrame = {
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .withColumn("valid_from", lit("1992-01-01"))
      .withColumn("valid_to", lit(null).cast("string"))
    val changes = orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(
        col("o_orderkey"),
        lit("R").as("o_orderstatus"),
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double").as("o_totalprice"))
    val scd = graft.operators.Upsert.scdType2(
      dim, changes, Seq("o_orderkey"),
      Seq("o_orderstatus", "o_totalprice"), effectiveDate = "1995-06-01")
    val probes = orders(s, d)
      .filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"),
        explode(array(lit("1994-01-01"), lit("1996-01-01"))).as("as_of"))
    graft.operators.Upsert.scd2Lookup(probes, scd, Seq("o_orderkey"), "as_of")
      .select("o_orderkey", "as_of", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey", "as_of")
  }

  /** Transactional-table lifecycle (graft.storage.TxLog — the
    * manifest-commit layer): create the orders dim as v1 partitioned
    * by priority, MERGE the repriced change feed (q_upsert's set) as
    * one atomic v2 commit, then read BOTH versions back — time travel
    * is the checkable surface, and the v1 rows prove the merge
    * rewrote touched partitions without disturbing the snapshot. */
  def txlog(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"))
    val changes = dim.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double"))
      .withColumn("o_orderstatus", lit("R"))
    TxLog.mergeInto(path, changes, Seq("o_orderkey"))
    val v1 = TxLog.read(s, path, Some(1L)).withColumn("ver", lit(1))
    val v2 = TxLog.read(s, path, Some(2L)).withColumn("ver", lit(2))
    v1.unionByName(v2)
      .select("ver", "o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("ver", "o_orderkey")
  }

  /** DELETE via DELETION VECTORS: create → DV-delete a key slice →
    * read the head. The commit moved ZERO data files (the matched
    * rows' (file, row_index) pairs land as one delete-sized sidecar;
    * TxLogDvSpec pins the byte-identical file set) and the filtered
    * read must be row-exact against a plain SQL filter — the driver
    * gate proves the anti-join seam, not just the economics. */
  def txlogDv(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_dv_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"))
    TxLog.deleteWhere(s, path, col("o_orderkey") % 7 === 0,
      deletionVectors = true)
    TxLog.read(s, path)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** The BATCH half of the `graft-txlog` format through the driver
    * gate: create → `spark.read.format("graft-txlog")` → selective
    * filter. The relation plans from the manifest FileIndex (stats
    * skipping + pushdown pinned in TxLogBatchSpec); here the GATE
    * checks the rows that come back are exactly the SQL filter's. */
  def txlogBatch(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_batch_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"),
      statsCols = Seq("o_orderkey"))
    s.read.format("graft-txlog").option("path", path).load()
      .filter(col("o_orderkey") <= 1000L)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** MERGE-ON-READ through the BATCH FORMAT: create → DV-delete →
    * DV-merge → `spark.read.format("graft-txlog")` on the DV-bearing
    * head. The mount applies the deletion vectors at scan time (the
    * DV-aware parquet format; specs pin pushdown + stats skipping
    * survive it) and the gate proves the mounted rows are exactly the
    * SQL recompute — specs alone let this feature ship broken once. */
  def txlogDvBatch(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_dv_batch_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"),
      statsCols = Seq("o_orderkey"))
    TxLog.deleteWhere(s, path, col("o_orderkey") % 7 === 0,
      deletionVectors = true)
    // DV merge: repriced %10 keys update in place (deleted multiples of
    // 70 re-insert — they are absent from the merge target view)
    val upd = dim.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double"))
      .withColumn("o_orderstatus", lit("R"))
    TxLog.mergeInto(path, upd, Seq("o_orderkey"), deletionVectors = true)
    s.read.format("graft-txlog").option("path", path).load()
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** RENAME COLUMN through the driver gate: create → rename →
    * read. Metadata-only (zero file rewrites, spec-pinned); the gate
    * checks values surface under the NEW name, row-exact. */
  def txlogRename(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_rename_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"))
    TxLog.renameColumn(s, path, "o_totalprice", "price")
    TxLog.read(s, path)
      .select("o_orderkey", "o_orderstatus", "price")
      .orderBy("o_orderkey")
  }

  /** SCHEMA EVOLUTION through the driver gate: create → ADD COLUMN
    * (metadata-only; pre-add rows read NULL) → append rows that carry
    * the new column → DROP COLUMN (tombstoned, spec-pinned against
    * resurrection) → read the head. The gate checks the full
    * evolved-lifecycle result row-exactly against plain SQL. */
  def txlogEvolve(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_evolve_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val p = part(s, d).select("p_partkey", "p_brand", "p_retailprice")
    TxLog.create(p.filter(col("p_partkey") % 3 === 0), path)
    TxLog.addColumn(s, path, "discounted", "double")
    TxLog.append(p.filter(col("p_partkey") % 3 === 1)
      .withColumn("discounted", col("p_retailprice") * lit(0.9)), path)
    TxLog.dropColumn(s, path, "p_brand")
    TxLog.read(s, path)
      .select("p_partkey", "p_retailprice", "discounted")
      .orderBy("p_partkey")
  }

  /** TYPE WIDENING through the driver gate: create with an INT key →
    * `alterColumnType` to BIGINT (metadata-only) → append a slice
    * whose keys exceed Int.MaxValue → read. The gate proves int-era
    * parquet pages and long-era pages aggregate together row-exactly
    * under the widened schema. */
  def txlogWiden(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_widen_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select(col("o_orderkey").cast("int").as("k"),
        col("o_totalprice").as("price"))
    TxLog.create(dim.filter(col("k") % 2 === 0), path, statsCols = Seq("k"))
    TxLog.alterColumnType(s, path, "k", "bigint")
    TxLog.append(dim.filter(col("k") % 2 === 1)
      .select((col("k").cast("bigint") + lit(4000000000L)).as("k"),
        col("price")), path)
    TxLog.read(s, path).select("k", "price").orderBy("k")
  }

  /** Null-count skip stats through the driver gate: the table lands
    * as an ALL-null slice plus two no-null slices (tracked column v),
    * and the IS NULL query runs through the BATCH MOUNT — the planner
    * prunes the no-null files by their zero null counts, and the
    * result must still be row-exact against the raw recompute. */
  def txlogNullskip(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_nullskip_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d).select(col("o_orderkey"),
      when(col("o_orderkey") % 3 === 0, lit(null))
        .otherwise(col("o_totalprice")).cast("double").as("v"))
    TxLog.create(dim.filter(col("o_orderkey") % 3 === 0), path,
      statsCols = Seq("v"))
    TxLog.append(dim.filter(col("o_orderkey") % 3 === 1), path)
    TxLog.append(dim.filter(col("o_orderkey") % 3 === 2), path)
    s.read.format("graft-txlog").option("path", path).load()
      .filter(col("v").isNull)
      .select("o_orderkey").orderBy("o_orderkey")
  }

  /** Conditional MERGE through the driver gate: target holds keys
    * %4 ∈ {0,1}; the source (keys %4 ∈ {1,2}, prices doubled) deletes
    * matched %8==1 rows, updates the other matched rows to the doubled
    * price, and inserts the unmatched keys — the full WHEN grammar in
    * one commit, checked row-exactly against a CASE recompute. */
  def txlogMergeWhen(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_merge_when_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    TxLog.create(dim.filter(col("o_orderkey") % 4 < 2), path)
    val source = dim
      .filter(col("o_orderkey") % 4 === 1 || col("o_orderkey") % 4 === 2)
      .withColumn("o_totalprice", col("o_totalprice") * lit(2.0))
    TxLog.mergeWhen(path, source, Seq("o_orderkey"),
      matched = Seq(
        TxLog.MergeClause(Some("o_orderkey % 8 = 1"), "delete"),
        TxLog.MergeClause(None, "update",
          Seq("o_totalprice" -> "src.o_totalprice"))),
      notMatched = Seq(TxLog.MergeClause(None, "insert")))
    TxLog.read(s, path).select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Per-app TXN watermarks through the driver gate: create a base
    * slice → deliver two idempotent batches, each REPLAYED (the crash
    * retry), plus one stale re-delivery — the head must hold every
    * order exactly once. The gate's oracle is simply the whole orders
    * table: duplicates or losses both hash-mismatch. */
  def txlogTxn(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_txn_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d).select("o_orderkey", "o_totalprice")
    val b1 = dim.filter(col("o_orderkey") % 3 === 1)
    val b2 = dim.filter(col("o_orderkey") % 3 === 2)
    TxLog.create(dim.filter(col("o_orderkey") % 3 === 0), path)
    TxLog.appendTxn(b1, path, "loader", 1L)
    TxLog.appendTxn(b1, path, "loader", 1L) // crash replay: dropped
    TxLog.appendTxn(b2, path, "loader", 2L)
    TxLog.appendTxn(b2, path, "loader", 2L) // crash replay: dropped
    TxLog.appendTxn(b1, path, "loader", 1L) // stale re-delivery: dropped
    TxLog.read(s, path).select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** UPDATE through the driver gate: create → file-granular
    * `updateWhere` (reprice + restatus every 10th key) → read. The
    * gate checks the updated head row-exactly against a CASE-WHEN
    * recompute. */
  def txlogUpdate(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_update_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"))
    TxLog.updateWhere(s, path, Seq(
      "o_totalprice" -> ("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * " +
        "CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)"),
      "o_orderstatus" -> "'R'"),
      col("o_orderkey") % 10 === 0)
    TxLog.read(s, path)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** PARTITION-SPEC EVOLUTION through the driver gate: create FLAT →
    * evolve to `days(o_orderdate)` (metadata-only) → append a slice
    * that lands in the derived layout → delete across BOTH layouts →
    * read. The gate proves mixed-layout reads and rewrites are
    * row-exact, not just plausible. */
  def txlogPevolve(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_pevolve_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    TxLog.create(dim.filter(col("o_orderkey") % 2 === 0), path)
    // bucket(8) keeps the derived fan-out sane at every SF — days()
    // over seven years of order dates would mean thousands of tiny
    // dirs at test scale (the SPEC covers the days form)
    TxLog.alterPartitionSpec(s, path, Seq("bucket(8, o_custkey)"))
    TxLog.append(dim.filter(col("o_orderkey") % 2 === 1), path)
    TxLog.deleteWhere(s, path, col("o_orderkey") % 7 === 0)
    TxLog.read(s, path)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** CONVERT through the driver gate: a PLAIN partitioned parquet
    * directory (written by stock Spark, no TxLog) adopts in place —
    * files rename under data/, v1 commits the inventory — then takes
    * a transactional delete. The gate checks the adopted table's
    * post-delete head row-exactly against plain SQL. */
  def txlogConvert(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_convert_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
      .write.partitionBy("o_orderpriority").parquet(path)
    TxLog.convert(s, path, partitionCols = Seq("o_orderpriority"),
      statsCols = Seq("o_orderkey"))
    TxLog.deleteWhere(s, path, col("o_orderkey") % 7 === 0)
    TxLog.read(s, path)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** MULTI-COLUMN partitioning + file-granular merge through the
    * driver gate: a (priority, status) nested layout takes the same
    * update stream as q_txlog; the gate checks the merged head
    * row-exactly (same oracle arithmetic, one snapshot). */
  def txlogMulticol(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_multicol_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path,
      partitionCols = Seq("o_orderpriority", "o_orderstatus"))
    val changes = dim.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double"))
      .withColumn("o_orderstatus", lit("R"))
    TxLog.mergeInto(path, changes, Seq("o_orderkey"))
    TxLog.read(s, path)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** HIDDEN partitioning through the driver gate: create with
    * `bucket(16, o_custkey)` (an Iceberg-style transform — the bucket
    * lives only in directory names, queries keep filtering raw
    * columns), merge-reprice, delete, then read the head through the
    * batch format (whose index translates raw predicates into bucket
    * votes; spec-pinned). The gate proves the full lifecycle over a
    * DERIVED layout is row-exact against the SQL recompute. */
  def txlogHidden(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_hidden_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    // 4 staging tasks × 16 bucket dirs bounds the lifecycle's file
    // count (32 tasks would write 4× the files for the same rows)
    val dim = orders(s, d)
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .coalesce(4)
    TxLog.create(dim, path, hiddenPartitions = Seq("bucket(16, o_custkey)"))
    val upd = dim.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double"))
      .withColumn("o_orderstatus", lit("R"))
    TxLog.mergeInto(path, upd, Seq("o_orderkey"))
    TxLog.deleteWhere(s, path, col("o_orderkey") % 97 === 0)
    s.read.format("graft-txlog").option("path", path).load()
      .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Hidden `days(ts)` through the driver gate: the events stream
    * lands in a day-derived layout (30 dirs, zero user-visible
    * partition columns), and a RAW timestamp range + aggregate reads
    * back through the batch mount — the planner prunes day dirs from
    * the raw predicate (spec-pinned); the gate proves the pruned
    * result is row-exact against SQL over the original parquet. */
  def txlogHiddenDays(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_hidden_days_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    TxLog.create(events(s, d)
      .select("event_id", "user_id", "event_type", "ts", "value").coalesce(4),
      path, hiddenPartitions = Seq("days(ts)"))
    s.read.format("graft-txlog").option("path", path).load()
      .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")) &&
        col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-20 00:00:00")))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("total"))
      .orderBy("event_type")
  }

  /** RESTORE over the transaction log: create → merge → roll back to
    * v1 as a NEW commit. The head read after the rollback must equal
    * the ORIGINAL table — and the restore commit moved zero data bytes
    * (the manifest re-references v1's files; spec-pinned). The oracle
    * is simply the original dim. */
  def txlogRestore(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_restore_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"))
    val changes = dim.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double"))
      .withColumn("o_orderstatus", lit("R"))
    TxLog.mergeInto(path, changes, Seq("o_orderkey"))
    TxLog.restore(s, path, 1L)
    TxLog.read(s, path)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Point lookup through the Bloom-filter file index: the table is
    * committed with min/max stats + per-file Bloom sidecars on the
    * key, then three needle reads go through `readByKey` — which
    * plans only the sidecar-admitted files — and must equal a plain
    * IN-filter over the raw table. The skipping itself (1-2 files of
    * many planned) is spec-pinned in TxLogSpec; this gates the
    * SEMANTICS end to end. */
  def txlogPoint(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_point_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    TxLog.create(dim, path, statsCols = Seq("o_orderkey"))
    // DECLARED maintenance: the property backfills the sidecar index
    // at SET time and every later data commit auto-extends it — no
    // manual buildBloomIndex call anywhere on this path (r15)
    TxLog.setProperties(s, path, Map(TxLog.BloomColsProp -> "o_orderkey"))
    // the three smallest keys — a bounded, deterministic driver hop
    val ks = dim.orderBy("o_orderkey").limit(3)
      .select("o_orderkey").collect().map(_.getLong(0))
    ks.map(k => TxLog.readByKey(s, path, "o_orderkey", k))
      .reduce(_ unionByName _)
      .orderBy("o_orderkey")
  }

  /** Incremental materialized-view maintenance: a per-priority revenue
    * aggregate maintained from the table's change feed across a
    * create → merge (with GROUP MOVES — some repriced orders also
    * change priority, exercising the preimage subtraction) → delete
    * history, never re-reading the table. The oracle recomputes the
    * final aggregate analytically — maintained state must equal the
    * recompute exactly. */
  def txlogMv(s: SparkSession, d: String): DataFrame = {
    import graft.storage.{Mv, TxLog}
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_mv_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"))
    val group = Seq("o_orderpriority"); val sums = Seq("o_totalprice")
    var mv = Mv.aggregate(TxLog.read(s, path, Some(1L)), group, sums)
    val upd = dim.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double"))
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 20 === 0, lit("1-URGENT"))
          .otherwise(col("o_orderpriority")))
    TxLog.mergeInto(path, upd, Seq("o_orderkey"))
    mv = Mv.applyDelta(mv,
      TxLog.changes(s, path, 1L, 2L, Seq("o_orderkey"), withPreimages = true),
      group, sums)
    TxLog.deleteWhere(s, path, col("o_orderkey") % 1000 === 1)
    mv = Mv.applyDelta(mv,
      TxLog.changes(s, path, 2L, 3L, Seq("o_orderkey"), withPreimages = true),
      group, sums)
    mv.select(col("o_orderpriority"), col("n_rows"),
        round(col("sum_o_totalprice"), 4).as("sum_price"))
      .orderBy("o_orderpriority")
  }

  /** Change-data-feed over the transaction log: create → merge → delete,
    * then emit the row-level diff v1→v3 a downstream incremental
    * consumer would apply. The oracle derives the same diff
    * analytically from the source table. */
  def txlogCdf(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_cdf_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
    TxLog.create(dim, path, Some("o_orderpriority"))
    val upd = dim.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("1.1")))
          .cast("double"))
      .withColumn("o_orderstatus", lit("R"))
    TxLog.mergeInto(path, upd, Seq("o_orderkey"))
    TxLog.deleteWhere(s, path, col("o_orderkey") % 1000 === 1)
    // routed through the FORMAT door (readChangeFeed batch options) —
    // the CDC-backfill spelling; serves exactly TxLog.changes' frame,
    // so the oracle is unchanged
    s.read.format("graft-txlog")
      .option("path", path)
      .option("readChangeFeed", "true")
      .option("startingVersion", "1")
      .option("endingVersion", "3")
      .option("keys", "o_orderkey")
      .load()
      .orderBy("o_orderkey")
  }

  /** Write-time CDC capture through the driver gate (r16): declare
    * `graft.changeDataFeed`, delete + update, then read the KEYLESS
    * event feed — exact preimages from the capture, no key join, the
    * commit version on every event. The oracle derives the same events
    * analytically from the source table (delete commits at v3, the
    * update's pre/post pairs at v4; the create's own inserts sit
    * outside the (1, 4] window). */
  def txlogCdfCapture(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_cdfcap_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderstatus", "o_totalprice")
    TxLog.create(dim, path)                                        // v1
    TxLog.setProperties(s, path,
      Map(TxLog.ChangeDataFeedProp -> "true"))                     // v2
    TxLog.deleteWhere(s, path, col("o_orderkey") % 1000 === 1)     // v3
    TxLog.updateWhere(s, path, Seq(
      "o_orderstatus" -> "'R'",
      "o_totalprice" -> ("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * " +
        "CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)")),
      col("o_orderkey") % 10 === 0)                                // v4
    TxLog.changeFeed(s, path, 1L, 4L)
      .select("o_orderkey", "o_orderstatus", "o_totalprice",
        "_change_type", "_commit_version")
      .orderBy("o_orderkey", "_change_type")
  }

  /** The V2 `TableCatalog` through the driver gate: the WHOLE DML loop
    * in plain SQL resolved by Spark's own analyzer — CTAS into the
    * catalog, INSERT INTO, UPDATE, DELETE, a conditional MERGE with
    * INSERT *, and the final SELECT back through `graft.<name>`
    * (gwasDB/app.R:133's named-table UX). The oracle recomputes the
    * same final state from the raw parquet in one query; prices only
    * ever multiply by 2 (exact in binary doubles), so the compare is
    * cell-exact. */
  def txlogSql(s: SparkSession, d: String): DataFrame = {
    val wh = sys.props("java.io.tmpdir") + "/graft_txlog_sql_wh"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(wh), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    s.conf.set("graft.catalog.warehouse", wh)
    orders(s, d).select("o_orderkey", "o_orderstatus", "o_totalprice")
      .createOrReplaceTempView("txlog_sql_src")
    s.sql("CREATE TABLE graft.dml_orders AS " +
      "SELECT * FROM txlog_sql_src WHERE o_orderkey % 3 = 0")
    s.sql("INSERT INTO graft.dml_orders " +
      "SELECT * FROM txlog_sql_src WHERE o_orderkey % 3 = 1")
    s.sql("UPDATE graft.dml_orders SET o_orderstatus = 'U' " +
      "WHERE o_orderkey % 10 = 0")
    s.sql("DELETE FROM graft.dml_orders WHERE o_orderkey % 7 = 0")
    s.sql("""MERGE INTO graft.dml_orders t
            |USING (SELECT * FROM txlog_sql_src WHERE o_orderkey % 5 = 0) s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED AND s.o_totalprice > 0
            |  THEN UPDATE SET o_totalprice = s.o_totalprice * 2
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql("SELECT o_orderkey, o_orderstatus, o_totalprice " +
      "FROM graft.dml_orders ORDER BY o_orderkey, o_orderstatus, o_totalprice")
  }

  /** MERGE WITH SCHEMA EVOLUTION through the driver gate, in PLAIN
    * SQL: CTAS a two-column slice into the V2 catalog, then one
    * `MERGE WITH SCHEMA EVOLUTION` whose source carries a column the
    * table has never seen — the analyzer ALTERs it in through the
    * catalog (AUTOMATIC_SCHEMA_EVOLUTION), UPDATE SET * assigns it,
    * INSERT * lands it whole, and untouched rows read NULL. The
    * oracle recomputes the widened head with CASE over key parity;
    * prices only multiply by 2 (exact in binary doubles). */
  def txlogMergeEvolve(s: SparkSession, d: String): DataFrame = {
    val wh = sys.props("java.io.tmpdir") + "/graft_txlog_mev_wh"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(wh), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    s.conf.set("graft.catalog.warehouse", wh)
    orders(s, d).select("o_orderkey", "o_totalprice", "o_orderpriority")
      .createOrReplaceTempView("txlog_mev_src")
    s.sql("CREATE TABLE graft.mev_orders AS " +
      "SELECT o_orderkey, o_totalprice FROM txlog_mev_src " +
      "WHERE o_orderkey % 3 = 0")
    s.sql("""MERGE WITH SCHEMA EVOLUTION INTO graft.mev_orders t
            |USING (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice,
            |              o_orderpriority AS prio
            |       FROM txlog_mev_src WHERE o_orderkey % 6 IN (0, 1)) s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    s.sql("SELECT o_orderkey, o_totalprice, prio FROM graft.mev_orders " +
      "ORDER BY o_orderkey")
  }

  /** IDENTITY columns through the driver gate: create an empty table
    * whose surrogate key is GENERATED ALWAYS AS IDENTITY, then append
    * the even-key orders and the odd-key orders as two commits. Dense
    * per-commit allocation makes the SORTED id column deterministic —
    * ids are exactly [1..N], and every first-batch id precedes every
    * second-batch id — so the gate is hash-exact even though the
    * id↔row pairing inside a batch is partition-order dependent. */
  def txlogIdentity(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_identity_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d).select("o_orderkey", "o_totalprice")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "surrogate_id BIGINT, o_orderkey BIGINT, o_totalprice DOUBLE")
    TxLog.create(s.createDataFrame(
      s.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema), path)
    TxLog.setColumnIdentity(s, path, "surrogate_id")
    TxLog.append(dim.filter(col("o_orderkey") % 2 === 0), path)
    TxLog.append(dim.filter(col("o_orderkey") % 2 === 1), path)
    TxLog.read(s, path)
      .select(col("surrogate_id"),
        (col("o_orderkey") % 2).cast("bigint").as("era"))
      .orderBy("surrogate_id")
  }

  /** INSERT OVERWRITE through the driver gate, in plain SQL: CTAS a
    * slice, append another, then OVERWRITE with a repriced third — the
    * truncate+insert shape (one commit, history kept, policies carry;
    * the keepPolicies door). The oracle is simply the overwrite's own
    * recompute: anything surviving from the earlier inserts, or any
    * loss from the overwrite, hash-mismatches. */
  def txlogOverwrite(s: SparkSession, d: String): DataFrame = {
    val wh = sys.props("java.io.tmpdir") + "/graft_txlog_ow_wh"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(wh), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(wh), true)
    s.conf.set("graft.catalog.warehouse", wh)
    orders(s, d).select("o_orderkey", "o_totalprice")
      .createOrReplaceTempView("txlog_ow_src")
    s.sql("CREATE TABLE graft.ow_orders AS " +
      "SELECT * FROM txlog_ow_src WHERE o_orderkey % 3 = 0")
    s.sql("INSERT INTO graft.ow_orders " +
      "SELECT * FROM txlog_ow_src WHERE o_orderkey % 3 = 1")
    s.sql("INSERT OVERWRITE graft.ow_orders " +
      "SELECT o_orderkey, o_totalprice * 2 AS o_totalprice " +
      "FROM txlog_ow_src WHERE o_orderkey % 5 = 0")
    s.sql("SELECT o_orderkey, o_totalprice FROM graft.ow_orders " +
      "ORDER BY o_orderkey")
  }

  /** VARIANT through the lake (r16 verdict #5, Spark 4 VariantType):
    * the events table's JSON props column lands in a TxLog table as a
    * typed `variant` column (parse_json at ingest — the open-format
    * answer to stringly-typed JSON lakes), survives the manifest's
    * schema-DDL round trip, appends across commits, takes a DV delete
    * whose predicate reads THROUGH the variant (`variant_get`), and
    * feeds its change record with the variant payload intact. The
    * gate output extracts typed fields, so the oracle replays it with
    * DuckDB's JSON functions over the raw parquet: per type, live
    * rows, their variant-extracted k-sum, and the CDC delete count. */
  def txlogVariant(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_variant_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val ev = events(s, d).select(col("event_id"), col("event_type"),
      parse_json(col("props")).as("v"))
    TxLog.create(ev.filter(col("event_id") % 2 === 0), path)        // v1
    TxLog.setProperties(s, path,
      Map(TxLog.ChangeDataFeedProp -> "true"))                      // v2
    TxLog.append(ev.filter(col("event_id") % 2 === 1), path)        // v3
    // the delete predicate reads THROUGH the variant column; DV mode
    // keeps it zero-rewrite, and the CDF capture carries the variant
    TxLog.deleteWhere(s, path,
      expr("variant_get(v, '$.k', 'bigint')") % 7 === 0,
      deletionVectors = true)                                       // v4
    val live = TxLog.read(s, path).groupBy("event_type").agg(
      count(lit(1)).as("n_live"),
      sum(expr("variant_get(v, '$.k', 'bigint')")).as("sum_k"))
    val deleted = TxLog.changeFeed(s, path, 3L, 4L)
      .filter(col("_change_type") === "delete")
      .groupBy("event_type").agg(count(lit(1)).as("n_cdc_deletes"))
    live.join(deleted, Seq("event_type"), "left")
      .select(col("event_type"), col("n_live"), col("sum_k"),
        coalesce(col("n_cdc_deletes"), lit(0L)).as("n_cdc_deletes"))
      .orderBy("event_type")
  }

  /** DEFAULT + GENERATED columns through the driver gate: create from
    * half the orders, ADD COLUMN ... DEFAULT and ADD COLUMN ...
    * GENERATED AS (both metadata-only — pre-existing rows read null),
    * then append the other half OMITTING both new columns: the default
    * fills, the generated computes. The oracle reproduces the
    * era-split with CASE over the row's parity. */
  def txlogDefaults(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_defaults_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d).select("o_orderkey", "o_orderstatus")
    TxLog.create(dim.filter(col("o_orderkey") % 2 === 0), path)
    TxLog.addColumn(s, path, "src_tag", "string",
      default = Some("'late_load'"))
    TxLog.addColumn(s, path, "k_bucket", "bigint",
      generatedAs = Some("o_orderkey % 4"))
    TxLog.append(dim.filter(col("o_orderkey") % 2 === 1), path)
    TxLog.read(s, path)
      .select("o_orderkey", "o_orderstatus", "src_tag", "k_bucket")
      .orderBy("o_orderkey")
  }

  /** TBLPROPERTIES + the appendOnly switch through the driver gate:
    * create, arm `graft.appendOnly=true` (plus a free-form tag),
    * append under the protection (allowed), verify a DELETE refuses
    * leaving the table untouched, UNSET, then land the same delete.
    * The oracle reproduces the final state: a leak of the refused
    * delete, or a failure of the re-opened one, hash-mismatches. */
  def txlogProps(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_props_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d).select("o_orderkey", "o_totalprice")
    TxLog.create(dim.filter(col("o_orderkey") % 2 === 0), path)
    TxLog.setProperties(s, path,
      Map(TxLog.AppendOnlyProp -> "true", "tier" -> "gold"))
    TxLog.append(dim.filter(col("o_orderkey") % 2 === 1), path)
    val refused =
      try { TxLog.deleteWhere(s, path, col("o_orderkey") % 7 === 0); false }
      catch { case _: UnsupportedOperationException => true }
    require(refused, "q_txlog_props: appendOnly must refuse the delete")
    TxLog.unsetProperties(s, path, Seq(TxLog.AppendOnlyProp))
    TxLog.deleteWhere(s, path, col("o_orderkey") % 7 === 0)
    TxLog.read(s, path).select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** Auto-compaction through the driver gate: the table DECLARES
    * `graft.autoCompact`, seven small appends land, and the follow-on
    * OPTIMIZE heals the touched partition's file count as separate
    * commits. The query REQUIREs the structural invariants (a heal
    * ran; the file count is bounded below one-file-per-append) and
    * serves the final CONTENT — which the oracle recomputes from the
    * raw source, because a heal must be invisible to readers. */
  def txlogAutoCompact(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_ac_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d).select("o_orderkey", "o_totalprice")
    TxLog.create(dim.filter(col("o_orderkey") % 8 === 0), path)
    TxLog.setProperties(s, path, Map(TxLog.AutoCompactProp -> "true"))
    s.conf.set("graft.txlog.autoCompactMinFiles", "4")
    try (1 to 7).foreach(i =>
      TxLog.append(dim.filter(col("o_orderkey") % 8 === i), path))
    finally s.conf.unset("graft.txlog.autoCompactMinFiles")
    val m = TxLog.manifest(s, path, TxLog.currentVersion(s, path).get)
    require(m.files.size < 8,
      s"q_txlog_autocompact: heal left ${m.files.size} files — " +
        "auto-compact never fired")
    import s.implicits._
    val ops = TxLog.history(s, path).select("operation").as[String].collect()
    require(ops.exists(_.startsWith("OPTIMIZE")),
      s"q_txlog_autocompact: no OPTIMIZE in history: ${ops.toSeq}")
    TxLog.read(s, path).select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** replaceWhere through the driver gate: the '1-URGENT' region of a
    * priority-partitioned table replaces with a repriced copy of
    * itself in ONE commit; every other partition's files carry by
    * reference. The oracle recomputes the CASE: region rows repriced,
    * everything else verbatim. */
  def txlogReplaceWhere(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_rw_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    val dim = orders(s, d)
      .select("o_orderkey", "o_orderpriority", "o_totalprice")
    TxLog.create(dim, path, Some("o_orderpriority"))
    val backfill = dim.filter(col("o_orderpriority") === "1-URGENT")
      .withColumn("o_totalprice",
        (col("o_totalprice").cast(DecimalType(18, 2)) * lit(BigDecimal("2")))
          .cast("double"))
    TxLog.replaceWhere(backfill, path, col("o_orderpriority") === "1-URGENT")
    TxLog.read(s, path).select("o_orderkey", "o_orderpriority", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** COPY INTO through the driver gate: the table starts from the %3=0
    * slice; the %3=1 and %3=2 slices land as parquet files in a
    * landing dir and COPY INTO loads them — TWICE, the second run a
    * REQUIREd no-op (the idempotency that makes re-runnable ingest
    * safe). The oracle recomputes the union: exactly-once loading is
    * content-invisible. */
  def txlogCopy(s: SparkSession, d: String): DataFrame = {
    import graft.storage.{CopyInto, TxLog}
    val base = sys.props("java.io.tmpdir") + "/graft_txlog_copy_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(base), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val path = s"$base/t"
    val landing = s"$base/landing"
    val dim = orders(s, d).select("o_orderkey", "o_totalprice")
    TxLog.create(dim.filter(col("o_orderkey") % 3 === 0), path)
    (1 to 2).foreach(i =>
      dim.filter(col("o_orderkey") % 3 === i).coalesce(1)
        .write.parquet(s"$landing/slice$i"))
    val (n1, _) = CopyInto.copyInto(s, path, landing)
    require(n1 == 2, s"q_txlog_copy: first copy loaded $n1 files, wanted 2")
    val (n2, _) = CopyInto.copyInto(s, path, landing)
    require(n2 == 0, s"q_txlog_copy: re-run loaded $n2 files — not idempotent")
    TxLog.read(s, path).select("o_orderkey", "o_totalprice")
      .orderBy("o_orderkey")
  }

  /** The PARTITIONS metadata table through the driver gate: create a
    * partitioned table, DV-delete a slice, then read the per-partition
    * METADATA row counts — zero data files read on the serve path.
    * Only the oracle-derivable columns go through the hash (row
    * counts net of DV deletes); file counts are layout, not content. */
  def txlogParts(s: SparkSession, d: String): DataFrame = {
    import graft.storage.TxLog
    val path = sys.props("java.io.tmpdir") + "/graft_txlog_parts_query"
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(path), s.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path), true)
    TxLog.create(orders(s, d)
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderpriority")),
      path, Some("o_orderpriority"))
    TxLog.deleteWhere(s, path, col("o_orderkey") % 10 === 0,
      deletionVectors = true)
    TxLog.partitions(s, path)
      .select(col("partition_dir"),
        (col("rows") - col("dv_deleted_rows")).as("live_rows"))
      .orderBy("partition_dir")
  }

  val entries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_txlog_parts" -> txlogParts _,
    "q_txlog_props" -> txlogProps _,
    "q_txlog_autocompact" -> txlogAutoCompact _,
    "q_txlog_copy" -> txlogCopy _,
    "q_txlog_replace_where" -> txlogReplaceWhere _,
    "q_txlog_defaults" -> txlogDefaults _,
    "q_txlog_sql" -> txlogSql _,
    "q_txlog_merge_evolve" -> txlogMergeEvolve _,
    "q_txlog_identity" -> txlogIdentity _,
    "q_txlog_overwrite" -> txlogOverwrite _,
    "q_txlog_variant" -> txlogVariant _,
    "q_txlog" -> txlog _,
    "q_txlog_dv" -> txlogDv _,
    "q_txlog_dv_batch" -> txlogDvBatch _,
    "q_txlog_batch" -> txlogBatch _,
    "q_txlog_rename" -> txlogRename _,
    "q_txlog_evolve" -> txlogEvolve _,
    "q_txlog_widen" -> txlogWiden _,
    "q_txlog_txn" -> txlogTxn _,
    "q_txlog_merge_when" -> txlogMergeWhen _,
    "q_txlog_nullskip" -> txlogNullskip _,
    "q_txlog_convert" -> txlogConvert _,
    "q_txlog_update" -> txlogUpdate _,
    "q_txlog_pevolve" -> txlogPevolve _,
    "q_txlog_multicol" -> txlogMulticol _,
    "q_txlog_hidden" -> txlogHidden _,
    "q_txlog_hidden_days" -> txlogHiddenDays _,
    "q_txlog_point" -> txlogPoint _,
    "q_txlog_cdf" -> txlogCdf _,
    "q_txlog_cdf_capture" -> txlogCdfCapture _,
    "q_txlog_restore" -> txlogRestore _,
    "q_txlog_mv" -> txlogMv _,
    "q_scd2" -> scd2 _,
    "q_scd2_lookup" -> scd2Lookup _,
    "q_range_join" -> rangeJoinQuery _,
    "q_upsert" -> upsert _,
    "q_pk_audit" -> pkAudit _,
    "q_dq_audit" -> dqAudit _,
    "q_dq_quarantine" -> dqQuarantine _,
    "q_bloom_join" -> bloomJoinQuery _,
    "q_funnel" -> funnel _,
    "q_retention" -> retention _,
    "q_profile" -> profileQuery _,
    "q_grouping_sets" -> groupingSets _,
    "q_minmax_by" -> minmaxBy _,
    "q_conditional_agg" -> conditionalAgg _,
    "q_vec_norm" -> vecNorm _,
    "q_set_ops" -> setOps _,
    "q_string_agg" -> stringAgg _,
    "q_cube" -> cubeAgg _,
    "q_running_sum" -> runningSum _,
    "q_corr_stats" -> corrStats _,
    "q_regression" -> regression _,
    "q_mad" -> madOutliers _,
    "q_chi2" -> chiSquare _,
    "q_winsorize" -> winsorize _,
    "q_share" -> revenueShare _,
    "q_assoc_rules" -> assocRules _,
    "q_skyline" -> skylineQuery _,
    "eval_rank" -> rankEvalQuery _,
    "eval_auc" -> aucQuery _,
    "eval_calibration" -> calibrationQuery _,
    "eval_pr" -> prQuery _,
    "q_moving_avg" -> movingAvg _,
    "q_ntile" -> distributionWindows _,
    "q_resample" -> resample _,
    "q_zscore" -> zscoreQuery _,
    "q_lag_delta" -> lagDelta _,
    "q_percentile" -> percentiles _,
    "q_approx_percentile" -> approxPercentiles _,
    "q_unpivot" -> unpivot _,
    "q_distinct_count" -> distinctCount _,
    "q_approx_distinct" -> approxDistinct _,
    "q_hll_rollup" -> hllRollup _,
    "q_topk_group" -> topkGroup _,
    "q_json_extract" -> jsonExtract _,
    "q1_agg" -> q1Agg _,
    "q3_join_agg" -> q3JoinAgg _,
    "q5_join_agg" -> q5LocalVolume _,
    "q10_returned" -> q10Returned _,
    "q_decay_score" -> decayScore _,
    "q_rollup" -> rollupAgg _,
    "q_time_window" -> timeWindow _,
    "q_sessionize" -> sessionize _,
    "q_top_paths" -> topPaths _,
    "q_funnel_latency" -> funnelLatency _,
    "q_forecast" -> forecastBacktest _,
    "q_hll_overlap" -> hllOverlapQuery _,
    "q_attribution" -> attribution _,
    "q_debounce" -> debounce _,
    "q_transitions" -> transitions _,
    "q_asof_join" -> asofJoin _,
    "q_skew_agg" -> skewAgg _,
    "q_skew_join" -> skewJoin _,
    "q_bucket_join" -> bucketJoin _,
    "stream_window_counts" -> streamWindowCounts _,
  )

  val oracles: Map[String, String] = Map(
    // v1 is the raw dim; v2 is q_upsert's merged state — the parquet
    // round trip through the TxLog snapshots must be value-exact
    "q_txlog" ->
      """WITH upd AS (
        |  SELECT o_orderkey, 'R' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey))
        |SELECT CAST(1 AS INT) AS ver, o_orderkey, o_orderstatus, o_totalprice
        |FROM orders
        |UNION ALL
        |SELECT CAST(2 AS INT) AS ver, o_orderkey, o_orderstatus, o_totalprice
        |FROM v2
        |ORDER BY ver, o_orderkey""".stripMargin,
    // a deletion-vector delete ≡ a plain filter, row-exact
    "q_txlog_dv" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""".stripMargin,
    // the DV-aware batch mount ≡ delete-filter + merge recompute:
    // %10 keys repriced (deleted multiples of 70 re-insert via the
    // merge), other %7 multiples stay deleted, the rest untouched
    "q_txlog_dv_batch" ->
      """WITH upd AS (
        |  SELECT o_orderkey, 'R' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 7 <> 0 AND o_orderkey % 10 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    // a mixed-layout lifecycle (flat create, evolve, derived append,
    // cross-layout delete) ≡ one plain filter over the source
    "q_txlog_pevolve" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""".stripMargin,
    // metadata-only DEFAULT/GENERATED columns ≡ a CASE over the
    // row's write era (even keys pre-date the columns -> null)
    "q_txlog_defaults" ->
      """SELECT o_orderkey, o_orderstatus,
        |       CASE WHEN o_orderkey % 2 = 1 THEN 'late_load' END AS src_tag,
        |       CASE WHEN o_orderkey % 2 = 1 THEN o_orderkey % 4 END AS k_bucket
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // the plain-SQL DML loop (CTAS/INSERT/UPDATE/DELETE/MERGE through
    // the V2 catalog) ≡ a one-query recompute of the final state
    "q_txlog_sql" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |         CASE WHEN o_orderkey % 10 = 0 THEN 'U'
        |              ELSE o_orderstatus END AS o_orderstatus,
        |         o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 3 IN (0, 1) AND o_orderkey % 7 <> 0
        |), merged AS (
        |  SELECT b.o_orderkey, b.o_orderstatus,
        |         CASE WHEN s.o_orderkey IS NOT NULL AND s.o_totalprice > 0
        |              THEN s.o_totalprice * 2
        |              ELSE b.o_totalprice END AS o_totalprice
        |  FROM base b
        |  LEFT JOIN (SELECT * FROM orders WHERE o_orderkey % 5 = 0) s
        |    ON b.o_orderkey = s.o_orderkey
        |  UNION ALL
        |  SELECT s.o_orderkey, s.o_orderstatus, s.o_totalprice
        |  FROM orders s
        |  WHERE s.o_orderkey % 5 = 0
        |    AND s.o_orderkey NOT IN (SELECT o_orderkey FROM base)
        |)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM merged
        |ORDER BY o_orderkey, o_orderstatus, o_totalprice""".stripMargin,
    // MERGE WITH SCHEMA EVOLUTION ≡ a CASE recompute over key parity:
    // %3==0 rows pre-exist (those also %6==0 update and take the new
    // column), %6==1 rows insert WITH it, everything else reads NULL
    "q_txlog_merge_evolve" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 6 IN (0, 1) THEN o_totalprice * 2
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 6 IN (0, 1) THEN o_orderpriority
        |       ELSE NULL END AS prio
        |FROM orders
        |WHERE o_orderkey % 3 = 0 OR o_orderkey % 6 = 1
        |ORDER BY o_orderkey""".stripMargin,
    // IDENTITY allocation ≡ dense [1..N] with batch-ordered ranges:
    // the even-key batch (committed first) owns ids [1..n0], the odd
    // batch [n0+1..N] — sorted ids with their batch parity are exact
    "q_txlog_identity" ->
      """WITH e AS (SELECT count(*) AS n0 FROM orders WHERE o_orderkey % 2 = 0),
        |     t AS (SELECT CAST(row_number() OVER () AS BIGINT) AS surrogate_id
        |           FROM orders)
        |SELECT surrogate_id,
        |       CAST(CASE WHEN surrogate_id <= (SELECT n0 FROM e)
        |                 THEN 0 ELSE 1 END AS BIGINT) AS era
        |FROM t ORDER BY surrogate_id""".stripMargin,
    // INSERT OVERWRITE ≡ the overwrite's own recompute — survivors
    // from the pre-overwrite inserts would hash-mismatch
    "q_txlog_overwrite" ->
      """SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
        |FROM orders WHERE o_orderkey % 5 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // metadata row counts net of DV deletes ≡ the content recompute
    "q_txlog_parts" ->
      """SELECT 'o_orderpriority=' || o_orderpriority AS partition_dir,
        |  count(*) AS live_rows
        |FROM orders WHERE o_orderkey % 10 <> 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // a predicate-scoped overwrite ≡ a CASE recompute (prices double
    // exactly in binary, so the compare is cell-exact)
    "q_txlog_replace_where" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CASE WHEN o_orderpriority = '1-URGENT'
        |       THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |                 CAST(2 AS DECIMAL(1,0)) AS DOUBLE)
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // exactly-once COPY INTO ≡ the plain union (all three %3 slices)
    "q_txlog_copy" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // the follow-on compaction heals layout, never content: the final
    // read ≡ the raw source (all eight %8 slices landed)
    "q_txlog_autocompact" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // the refused delete leaves nothing; only the re-opened one lands
    "q_txlog_props" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders WHERE o_orderkey % 7 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    // a file-granular UPDATE ≡ a CASE-WHEN recompute over the source
    "q_txlog_update" ->
      """SELECT o_orderkey,
        |       CASE WHEN o_orderkey % 10 = 0 THEN 'R'
        |            ELSE o_orderstatus END AS o_orderstatus,
        |       CASE WHEN o_orderkey % 10 = 0
        |            THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |                      CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
        |            ELSE o_totalprice END AS o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    // in-place adoption of a plain parquet dir + a transactional
    // delete ≡ the filtered source
    "q_txlog_convert" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 7 <> 0 ORDER BY o_orderkey""".stripMargin,
    // the batch format's manifest-planned scan ≡ a plain filter
    "q_txlog_batch" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey <= 1000 ORDER BY o_orderkey""".stripMargin,
    // a metadata-only rename ≡ an alias
    "q_txlog_rename" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice AS price FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // add-column + append + drop-column lifecycle ≡ a union where the
    // pre-add slice reads NULL for the added column and the dropped
    // column never appears
    "q_txlog_evolve" ->
      """SELECT p_partkey, p_retailprice, CAST(NULL AS DOUBLE) AS discounted
        |FROM part WHERE p_partkey % 3 = 0
        |UNION ALL
        |SELECT p_partkey, p_retailprice,
        |       p_retailprice * CAST(0.9 AS DOUBLE) AS discounted
        |FROM part WHERE p_partkey % 3 = 1
        |ORDER BY p_partkey""".stripMargin,
    // IS NULL through the null-count-pruned mount ≡ the raw predicate
    "q_txlog_nullskip" ->
      """SELECT o_orderkey FROM orders WHERE o_orderkey % 3 = 0
        |ORDER BY o_orderkey""".stripMargin,
    // the conditional-merge lifecycle ≡ a CASE recompute: %4==0 carry,
    // %4==1 split by %8 into delete/update, %4==2 insert (doubled)
    "q_txlog_merge_when" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 4 = 0 THEN o_totalprice
        |       ELSE o_totalprice * 2.0 END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 0
        |   OR (o_orderkey % 4 = 1 AND o_orderkey % 8 <> 1)
        |   OR o_orderkey % 4 = 2
        |ORDER BY o_orderkey""".stripMargin,
    // idempotent deliveries with crash replays ≡ every order exactly
    // once — a dropped watermark would duplicate a third of the table
    "q_txlog_txn" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |ORDER BY o_orderkey""".stripMargin,
    // int-era and long-era files under one widened BIGINT schema ≡ a
    // union where the odd slice's keys shift beyond Int.MaxValue
    "q_txlog_widen" ->
      """SELECT CAST(o_orderkey AS BIGINT) AS k, o_totalprice AS price
        |FROM orders WHERE o_orderkey % 2 = 0
        |UNION ALL
        |SELECT CAST(o_orderkey AS BIGINT) + 4000000000 AS k,
        |       o_totalprice AS price
        |FROM orders WHERE o_orderkey % 2 = 1
        |ORDER BY k""".stripMargin,
    // the (priority, status) nested layout takes q_txlog's update
    // stream; the merged head is the same v2 arithmetic
    "q_txlog_multicol" ->
      """WITH upd AS (
        |  SELECT o_orderkey, 'R' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM upd
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey""".stripMargin,
    // a hidden bucket(16, o_custkey) layout takes q_txlog's update
    // stream plus a delete; the head is the same arithmetic — the
    // DERIVED layout must be invisible to results
    "q_txlog_hidden" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |merged AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM upd
        |  UNION ALL
        |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey))
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM merged
        |WHERE o_orderkey % 97 <> 0
        |ORDER BY o_orderkey""".stripMargin,
    // raw-timestamp range over the day-derived layout ≡ the same
    // range + aggregate on the original rows (pruning is invisible)
    "q_txlog_hidden_days" ->
      s"""SELECT event_type, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-20 00:00:00'
         |GROUP BY event_type ORDER BY event_type""".stripMargin,
    // needle reads through the Bloom index ≡ a plain IN-filter
    "q_txlog_point" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey IN
        |  (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3)
        |ORDER BY o_orderkey""".stripMargin,
    // the maintained view must equal the analytic recompute of the
    // final table state (reprice %10, group-move %20, delete %1000=1)
    "q_txlog_mv" ->
      """WITH base AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0
        |         THEN CAST(CAST(o_totalprice AS DECIMAL(18,2))
        |                   * CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE)
        |         ELSE o_totalprice END AS price,
        |    CASE WHEN o_orderkey % 20 = 0 THEN '1-URGENT'
        |         ELSE o_orderpriority END AS prio
        |  FROM orders
        |  WHERE o_orderkey % 1000 <> 1)
        |SELECT prio AS o_orderpriority, count(*) AS n_rows,
        |  round(CAST(SUM(CAST(price AS DECIMAL(28,6))) AS DOUBLE), 4) AS sum_price
        |FROM base GROUP BY 1 ORDER BY 1""".stripMargin,
    // after merge + restore, the head must read as the ORIGINAL dim
    "q_txlog_restore" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_txlog_cdf" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority, _change_type
        |FROM (
        |  SELECT o_orderkey, 'R' AS o_orderstatus,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |         AS DOUBLE) AS o_totalprice,
        |    o_orderpriority, 'update' AS _change_type
        |  FROM orders WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderpriority, 'delete'
        |  FROM orders WHERE o_orderkey % 1000 = 1)
        |ORDER BY o_orderkey""".stripMargin,
    "q_txlog_cdf_capture" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, _change_type,
        |       _commit_version
        |FROM (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    'delete' AS _change_type, CAST(3 AS BIGINT) AS _commit_version
        |  FROM orders WHERE o_orderkey % 1000 = 1
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    'update_preimage', CAST(4 AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 1000 <> 1
        |  UNION ALL
        |  SELECT o_orderkey, 'R',
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) *
        |         CAST(1.1 AS DECIMAL(2,1)) AS DOUBLE),
        |    'update_postimage', CAST(4 AS BIGINT)
        |  FROM orders WHERE o_orderkey % 10 = 0 AND o_orderkey % 1000 <> 1)
        |ORDER BY o_orderkey, _change_type""".stripMargin,
    "q_scd2" ->
      """WITH dim AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         '1992-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
        |  FROM orders),
        |ch AS (
        |  SELECT o_orderkey, 'R' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |changed AS (
        |  SELECT d.o_orderkey, d.o_orderstatus, d.o_totalprice, d.valid_from
        |  FROM dim d JOIN ch c USING (o_orderkey)
        |  WHERE d.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |     OR d.o_totalprice IS DISTINCT FROM c.o_totalprice)
        |SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from,
        |       '1995-06-01' AS valid_to
        |FROM changed
        |UNION ALL
        |SELECT d.o_orderkey, d.o_orderstatus, d.o_totalprice, d.valid_from, d.valid_to
        |FROM dim d
        |WHERE NOT EXISTS (SELECT 1 FROM changed x WHERE x.o_orderkey = d.o_orderkey)
        |UNION ALL
        |SELECT c.o_orderkey, c.o_orderstatus, c.o_totalprice,
        |       '1995-06-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
        |FROM ch c
        |WHERE EXISTS (SELECT 1 FROM changed x WHERE x.o_orderkey = c.o_orderkey)
        |ORDER BY o_orderkey, valid_from""".stripMargin,
    // the scd CTE replays q_scd2's construction; every probe must land
    // in exactly one validity window
    "q_scd2_lookup" ->
      """WITH dim AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |         '1992-01-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
        |  FROM orders),
        |ch AS (
        |  SELECT o_orderkey, 'R' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0),
        |changed AS (
        |  SELECT d.o_orderkey, d.o_orderstatus, d.o_totalprice, d.valid_from
        |  FROM dim d JOIN ch c USING (o_orderkey)
        |  WHERE d.o_orderstatus IS DISTINCT FROM c.o_orderstatus
        |     OR d.o_totalprice IS DISTINCT FROM c.o_totalprice),
        |scd AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from,
        |         '1995-06-01' AS valid_to
        |  FROM changed
        |  UNION ALL
        |  SELECT d.o_orderkey, d.o_orderstatus, d.o_totalprice, d.valid_from, d.valid_to
        |  FROM dim d
        |  WHERE NOT EXISTS (SELECT 1 FROM changed x WHERE x.o_orderkey = d.o_orderkey)
        |  UNION ALL
        |  SELECT c.o_orderkey, c.o_orderstatus, c.o_totalprice,
        |         '1995-06-01' AS valid_from, CAST(NULL AS VARCHAR) AS valid_to
        |  FROM ch c
        |  WHERE EXISTS (SELECT 1 FROM changed x WHERE x.o_orderkey = c.o_orderkey)),
        |probes AS (
        |  SELECT o_orderkey, u.d AS as_of
        |  FROM orders, UNNEST(['1994-01-01', '1996-01-01']) AS u(d)
        |  WHERE o_orderkey % 10 = 0)
        |SELECT p.o_orderkey, p.as_of, s.o_orderstatus, s.o_totalprice
        |FROM probes p
        |LEFT JOIN scd s ON p.o_orderkey = s.o_orderkey
        |  AND p.as_of >= s.valid_from
        |  AND (s.valid_to IS NULL OR p.as_of < s.valid_to)
        |ORDER BY p.o_orderkey, p.as_of""".stripMargin,
    "q_range_join" ->
      """WITH pts AS (
        |  SELECT l_orderkey, l_partkey AS pos FROM lineitem WHERE l_linenumber = 1),
        |iv AS (
        |  SELECT p_partkey AS interval_id,
        |         (p_partkey * 7) % 1500 AS istart,
        |         (p_partkey * 7) % 1500 + (p_size % 4) AS iend
        |  FROM part)
        |SELECT interval_id, l_orderkey, pos, istart, iend
        |FROM pts JOIN iv ON pos BETWEEN istart AND iend
        |ORDER BY interval_id, l_orderkey, pos, istart, iend""".stripMargin,
    "q_pk_audit" ->
      """WITH planted AS (
        |  SELECT o_orderkey FROM orders
        |  UNION ALL
        |  SELECT o_orderkey FROM orders WHERE o_orderkey % 100 = 0)
        |SELECT o_orderkey, count(*) AS n_rows
        |FROM planted GROUP BY o_orderkey HAVING count(*) > 1
        |ORDER BY o_orderkey""".stripMargin,
    "q_dq_audit" ->
      """WITH v AS (
        |  SELECT count(*) AS n_rows,
        |    SUM(CASE WHEN NOT coalesce(l_quantity <= 40, false) THEN 1 ELSE 0 END) AS v_qty40,
        |    SUM(CASE WHEN NOT coalesce(l_tax <= 0.05, false) THEN 1 ELSE 0 END) AS v_tax,
        |    SUM(CASE WHEN NOT coalesce(l_quantity > 0, false) THEN 1 ELSE 0 END) AS v_qpos,
        |    SUM(CASE WHEN NOT coalesce(l_returnflag IN ('A','N','R'), false) THEN 1 ELSE 0 END) AS v_flag
        |  FROM lineitem)
        |SELECT rule, n_rows, CAST(n_violations AS BIGINT) AS n_violations,
        |  round(n_violations / n_rows, 6) AS violation_frac
        |FROM (
        |  SELECT 'qty_le_40' AS rule, n_rows, v_qty40 AS n_violations FROM v
        |  UNION ALL SELECT 'tax_le_5pct', n_rows, v_tax FROM v
        |  UNION ALL SELECT 'qty_pos', n_rows, v_qpos FROM v
        |  UNION ALL SELECT 'flag_domain', n_rows, v_flag FROM v)
        |ORDER BY rule""".stripMargin,
    "q_dq_quarantine" ->
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, l_quantity, l_tax,
        |    concat_ws(',',
        |      CASE WHEN NOT coalesce(l_quantity <= 40, false) THEN 'qty_le_40' END,
        |      CASE WHEN NOT coalesce(l_tax <= 0.05, false) THEN 'tax_le_5pct' END) AS failed_rules
        |  FROM lineitem)
        |WHERE failed_rules <> ''
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_tax, failed_rules""".stripMargin,
    "q_upsert" ->
      """WITH upd AS (
        |  SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(1.1 AS DECIMAL(2,1))
        |              AS DOUBLE) AS o_totalprice
        |  FROM orders WHERE o_orderkey % 10 = 0)
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM upd
        |UNION ALL
        |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.o_orderkey = o.o_orderkey)
        |ORDER BY o_orderkey, o_custkey, o_orderstatus, o_totalprice""".stripMargin,
    "q_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        |  GROUPING(l_returnflag) AS g_rflag, GROUPING(l_linestatus) AS g_lstatus,
        |  count(*) AS n
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        |ORDER BY l_returnflag ASC NULLS FIRST, l_linestatus ASC NULLS FIRST""".stripMargin,
    "q_minmax_by" ->
      """SELECT user_id, min_by(event_type, ts) AS first_type,
        |  max_by(event_type, ts) AS last_type, count(*) AS n
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_conditional_agg" ->
      """SELECT l_returnflag,
        |  count(*) FILTER (WHERE l_quantity > 25) AS n_big,
        |  CAST(SUM(CAST(CASE WHEN l_quantity > 25 THEN l_extendedprice END
        |    AS DECIMAL(18,6))) AS DOUBLE) AS big_rev,
        |  count(*) AS n
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_vec_norm" ->
      """SELECT vec_id,
        |  round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
        |                              CAST(embedding AS DOUBLE[]))), 6) AS norm,
        |  round(CAST(list_max(embedding) AS DOUBLE), 6) AS max_elem
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_set_ops" ->
      """SELECT l_partkey, 'both' AS bucket FROM lineitem WHERE month(l_shipdate) <= 6
        |INTERSECT
        |SELECT l_partkey, 'both' FROM lineitem WHERE month(l_shipdate) > 6
        |UNION ALL
        |(SELECT l_partkey, 'h1_only' AS bucket FROM lineitem WHERE month(l_shipdate) <= 6
        | EXCEPT
        | SELECT l_partkey, 'h1_only' FROM lineitem WHERE month(l_shipdate) > 6)
        |ORDER BY bucket, l_partkey""".stripMargin,
    "q_string_agg" ->
      """SELECT n_name, string_agg(s_name, ',' ORDER BY s_name) AS suppliers
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |GROUP BY n_name ORDER BY n_name""".stripMargin,
    "q_cube" ->
      s"""SELECT l_returnflag AS rflag, l_linestatus AS lstatus,
         |  count(*) AS n, ${dsumSql("l_quantity")} AS qty
         |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
         |ORDER BY rflag ASC NULLS FIRST, lstatus ASC NULLS FIRST""".stripMargin,
    "q_running_sum" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) OVER (
        |    PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber, l_extendedprice
        |    ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_rev
        |FROM lineitem WHERE l_suppkey <= 3
        |ORDER BY l_suppkey, running_rev, l_orderkey, l_linenumber""".stripMargin,
    // the oracle spells the IDENTICAL moment sums and final double
    // expression as the Spark side: exact decimals in, IEEE out —
    // bit-equality is by construction, not luck (see operators.Stats).
    // Products cast through DECIMAL(19,6): same rational values, but
    // width 19 pushes DuckDB off its int64 multiply path (which
    // overflows on price²) onto hugeint — Spark's (18,6)² → (37,12)
    // is already exact
    "q_corr_stats" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
        |           * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
        |           * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
        |           * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((n*sxy - sx*sy) / (sqrt(n*sxx - sx*sx) * sqrt(n*syy - sy*sy)), 6) AS corr_xy,
        |  round((n*sxy - sx*sy) / (n*(n - 1.0)), 6) AS covar_xy,
        |  round(sqrt((n*sxx - sx*sx) / (n*(n - 1.0))), 6) AS stddev_x,
        |  round(sqrt((n*syy - sy*sy) / (n*(n - 1.0))), 6) AS stddev_y
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_regression" ->
      """WITH m AS (
        |  SELECT l_returnflag,
        |    CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
        |           * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxy,
        |    CAST(SUM(CAST(l_quantity AS DECIMAL(19,6))
        |           * CAST(l_quantity AS DECIMAL(19,6))) AS DOUBLE) AS sxx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
        |           * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS syy
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, CAST(n AS BIGINT) AS n,
        |  round((n*sxy - sx*sy) / (n*sxx - sx*sx), 6) AS slope,
        |  round((sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n, 6) AS intercept,
        |  round((n*sxy - sx*sy) * (n*sxy - sx*sy)
        |        / ((n*sxx - sx*sx) * (n*syy - sy*sy)), 6) AS r2
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_mad" ->
      """WITH med AS (
        |  SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS m
        |  FROM lineitem GROUP BY l_returnflag),
        |dev AS (
        |  SELECT l.l_returnflag, m.m,
        |         abs(l.l_extendedprice - m.m) AS ad
        |  FROM lineitem l JOIN med m USING (l_returnflag)),
        |mad AS (
        |  SELECT l_returnflag, quantile_cont(ad, 0.5) AS md
        |  FROM dev GROUP BY l_returnflag)
        |SELECT d.l_returnflag, COUNT(*) AS n,
        |  round(max(d.m), 6) AS median,
        |  round(max(ma.md), 6) AS mad,
        |  COUNT(CASE WHEN d.ad > 3.0 * ma.md THEN 1 END) AS n_outliers
        |FROM dev d JOIN mad ma USING (l_returnflag)
        |GROUP BY d.l_returnflag ORDER BY d.l_returnflag""".stripMargin,
    "q_winsorize" ->
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(l_extendedprice, 0.05) AS lo,
        |    quantile_cont(l_extendedprice, 0.95) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_extendedprice,
        |  round(least(greatest(l.l_extendedprice, b.lo), b.hi), 6) AS price_w
        |FROM lineitem l JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber, l_returnflag,
        |  l_extendedprice, price_w""".stripMargin,
    "q_share" ->
      s"""WITH f AS (
        |  SELECT l_returnflag,
        |    ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
        |  FROM lineitem GROUP BY l_returnflag),
        |t AS (
        |  SELECT ${Det.dsumSql("l_extendedprice * (1.0 - l_discount)")} AS total
        |  FROM lineitem)
        |SELECT l_returnflag, revenue, round(revenue / total, 6) AS share
        |FROM f CROSS JOIN t ORDER BY l_returnflag""".stripMargin,
    "q_chi2" ->
      """WITH cells AS (
        |  SELECT l_returnflag, l_linestatus, COUNT(*) AS o
        |  FROM lineitem GROUP BY l_returnflag, l_linestatus),
        |rt AS (SELECT l_returnflag, SUM(o) AS ra FROM cells GROUP BY l_returnflag),
        |ct AS (SELECT l_linestatus, SUM(o) AS cb FROM cells GROUP BY l_linestatus),
        |nn AS (SELECT SUM(o) AS n FROM cells)
        |SELECT c.l_returnflag, c.l_linestatus, c.o AS observed,
        |  round(CAST(rt.ra * ct.cb AS DOUBLE) / CAST(nn.n AS DOUBLE), 6) AS expected,
        |  round((CAST(c.o AS DOUBLE) - CAST(rt.ra * ct.cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |      * (CAST(c.o AS DOUBLE) - CAST(rt.ra * ct.cb AS DOUBLE) / CAST(nn.n AS DOUBLE))
        |      / (CAST(rt.ra * ct.cb AS DOUBLE) / CAST(nn.n AS DOUBLE)), 6) AS chi2_contrib
        |FROM cells c
        |JOIN rt USING (l_returnflag)
        |JOIN ct USING (l_linestatus)
        |CROSS JOIN nn
        |ORDER BY c.l_returnflag, c.l_linestatus""".stripMargin,
    "q_assoc_rules" ->
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS b, l_partkey AS i FROM lineitem),
        |nb AS (SELECT COUNT(DISTINCT b) AS n FROM items),
        |ic AS (SELECT i, COUNT(*) AS c FROM items GROUP BY i),
        |p AS (
        |  SELECT a.i AS x, b.i AS y, COUNT(*) AS cxy
        |  FROM items a JOIN items b ON a.b = b.b AND a.i < b.i
        |  GROUP BY a.i, b.i HAVING COUNT(*) >= 2),
        |d AS (SELECT x AS antecedent, y AS consequent, cxy FROM p
        |      UNION ALL SELECT y, x, cxy FROM p)
        |SELECT antecedent, consequent, cxy AS pair_n,
        |  round(CAST(cxy AS DOUBLE) / CAST(n AS DOUBLE), 6) AS support,
        |  round(CAST(cxy AS DOUBLE) / CAST(ca.c AS DOUBLE), 6) AS confidence,
        |  round(CAST(cxy * n AS DOUBLE) / CAST(ca.c * cc.c AS DOUBLE), 6) AS lift
        |FROM d
        |JOIN ic ca ON d.antecedent = ca.i
        |JOIN ic cc ON d.consequent = cc.i
        |CROSS JOIN nb
        |ORDER BY lift DESC, antecedent, consequent LIMIT 50""".stripMargin,
    "q_skyline" ->
      """SELECT p_partkey, p_name, p_retailprice, p_size FROM part p
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM part q
        |  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
        |    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
        |ORDER BY p_retailprice, p_partkey""".stripMargin,
    // same fixed-divisor score, same clamp/bin arithmetic, score sums
    // through DECIMAL(18,6) (the dsum pattern) on both engines
    "eval_calibration" ->
      """WITH base AS (
        |  SELECT o_totalprice / 600000.0 AS s,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        |  FROM orders),
        |b AS (
        |  SELECT LEAST(CAST(floor(LEAST(GREATEST(s, 0), 1) * 10.0) AS INT), 9)
        |    AS bin, s, label
        |  FROM base)
        |SELECT bin, count(*) AS n,
        |  round(CAST(SUM(CAST(LEAST(GREATEST(s, 0), 1) AS DECIMAL(18,6)))
        |    AS DOUBLE) / count(*), 6) AS mean_score,
        |  round(CAST(sum(label) AS DOUBLE) / count(*), 6) AS pos_rate,
        |  round(abs(CAST(SUM(CAST(LEAST(GREATEST(s, 0), 1) AS DECIMAL(18,6)))
        |    AS DOUBLE) / count(*) -
        |        CAST(sum(label) AS DOUBLE) / count(*)), 6) AS abs_gap
        |FROM b GROUP BY 1 ORDER BY 1""".stripMargin,
    // the same bin aggregate as calibration, then a bins-row
    // descending cumulative window — integer TP/FP counts, one
    // division, round(6) on both engines; empty bins keep their
    // threshold row
    "eval_pr" ->
      """WITH base AS (
        |  SELECT o_totalprice / 600000.0 AS s,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        |  FROM orders),
        |b AS (
        |  SELECT LEAST(CAST(floor(LEAST(GREATEST(s, 0), 1) * 10.0) AS INT), 9)
        |    AS bin, count(*) AS n, SUM(label) AS n_pos
        |  FROM base GROUP BY 1),
        |e AS (SELECT CAST(i AS INT) AS bin, round(i / 10.0, 6) AS threshold
        |      FROM range(10) t(i)),
        |c AS (
        |  SELECT e.bin, e.threshold, COALESCE(b.n, 0) AS n,
        |    COALESCE(b.n_pos, 0) AS n_pos
        |  FROM e LEFT JOIN b ON e.bin = b.bin),
        |cum AS (
        |  SELECT threshold,
        |    CAST(SUM(n) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS predicted_pos,
        |    CAST(SUM(n_pos) OVER (ORDER BY bin DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |      AS BIGINT) AS tp,
        |    SUM(n_pos) OVER () AS p
        |  FROM c)
        |SELECT threshold, predicted_pos, tp,
        |  round(CASE WHEN predicted_pos > 0
        |    THEN CAST(tp AS DOUBLE) / predicted_pos END, 6) AS prec,
        |  round(CASE WHEN p > 0 THEN CAST(tp AS DOUBLE) / p END, 6) AS recall
        |FROM cum ORDER BY threshold""".stripMargin,
    // the same Mann-Whitney average-rank formulation, spelled over
    // the (group, score) rollup + one cumulative window — integer
    // rank sums in double, one division, round(6) on both engines
    "eval_auc" ->
      """WITH base AS (
        |  SELECT o_orderpriority, o_totalprice AS s,
        |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS label
        |  FROM orders),
        |agg AS (
        |  SELECT o_orderpriority, s, count(*) AS n, sum(label) AS np
        |  FROM base GROUP BY 1, 2),
        |cum AS (
        |  SELECT o_orderpriority, n, np,
        |    COALESCE(sum(n) OVER (PARTITION BY o_orderpriority ORDER BY s
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
        |  FROM agg)
        |SELECT o_orderpriority,
        |  CAST(sum(np) AS BIGINT) AS n_pos,
        |  CAST(sum(n) - sum(np) AS BIGINT) AS n_neg,
        |  round((sum(CAST(np AS DOUBLE) * (CAST(cb AS DOUBLE) +
        |           (CAST(n AS DOUBLE) + 1.0) / 2.0)) -
        |         CAST(sum(np) AS DOUBLE) * (CAST(sum(np) AS DOUBLE) + 1.0) / 2.0) /
        |        (CAST(sum(np) AS DOUBLE) * CAST(sum(n) - sum(np) AS DOUBLE)), 6)
        |    AS auc
        |FROM cum GROUP BY 1 ORDER BY 1""".stripMargin,
    "eval_rank" ->
      """WITH pred AS (
        |  SELECT c_nationkey AS query_id, c_custkey AS item_id,
        |    row_number() OVER (PARTITION BY c_nationkey
        |      ORDER BY md5(concat_ws('#', c_nationkey, c_custkey)), c_custkey)
        |      AS rank
        |  FROM customer),
        |truth AS (
        |  SELECT c_nationkey AS query_id, c_custkey AS item_id,
        |    CASE WHEN c_acctbal > 7500 THEN 2 ELSE 1 END AS rel
        |  FROM customer WHERE c_acctbal > 0),
        |hits AS (
        |  SELECT p.query_id, p.rank, COALESCE(t.rel, 0) AS rel
        |  FROM pred p LEFT JOIN truth t USING (query_id, item_id)
        |  WHERE p.rank <= 10),
        |got AS (
        |  SELECT query_id,
        |    CAST(SUM(CAST((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
        |          / (ln(CAST(rank AS DOUBLE) + 1.0) / ln(2.0))
        |        AS DECIMAL(18,6))) AS DOUBLE) AS dcg,
        |    MIN(CASE WHEN rel > 0 THEN rank END) AS first_rel,
        |    COUNT(CASE WHEN rel > 0 THEN 1 END) AS n_rel
        |  FROM hits GROUP BY query_id),
        |ideal AS (
        |  SELECT query_id,
        |    CAST(SUM(CAST((pow(2.0, CAST(rel AS DOUBLE)) - 1.0)
        |          / (ln(CAST(ir AS DOUBLE) + 1.0) / ln(2.0))
        |        AS DECIMAL(18,6))) AS DOUBLE) AS idcg
        |  FROM (SELECT query_id, item_id, rel,
        |          row_number() OVER (PARTITION BY query_id
        |            ORDER BY rel DESC, item_id) AS ir
        |        FROM truth) WHERE ir <= 10
        |  GROUP BY query_id)
        |SELECT query_id,
        |  round(CASE WHEN i.idcg IS NULL OR i.idcg = 0 OR g.dcg IS NULL
        |             THEN 0.0 ELSE g.dcg / i.idcg END, 6) AS ndcg,
        |  round(COALESCE(1.0 / CAST(first_rel AS DOUBLE), 0.0), 6) AS mrr,
        |  round(COALESCE(CAST(n_rel AS DOUBLE), 0.0) / 10.0, 6) AS p_at_k
        |FROM got g FULL OUTER JOIN ideal i USING (query_id)
        |ORDER BY query_id""".stripMargin,
    "q_moving_avg" ->
      """SELECT event_id, event_type, epoch_us(ts) AS tsu,
        |  count(*) OVER w AS n_win,
        |  round(CAST(SUM(CAST(value AS DECIMAL(18,6))) OVER w AS DOUBLE)
        |        / count(*) OVER w, 6) AS win_avg
        |FROM events
        |WINDOW w AS (PARTITION BY event_type ORDER BY epoch_us(ts)
        |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q_ntile" ->
      """SELECT l_returnflag, l_orderkey, l_linenumber,
        |  ntile(10) OVER w AS decile,
        |  round(percent_rank() OVER w, 6) AS pct_rank,
        |  round(cume_dist() OVER w, 6) AS cdist
        |FROM lineitem WHERE l_suppkey <= 3
        |WINDOW w AS (PARTITION BY l_returnflag
        |             ORDER BY l_extendedprice, l_orderkey, l_linenumber)
        |ORDER BY l_returnflag, l_orderkey, l_linenumber""".stripMargin,
    "q_resample" -> {
      s"""WITH h AS (
         |  SELECT event_type, epoch_us(ts) // 3600000000 AS hr,
         |    count(*) AS n, ${dsumSql("value")} AS total
         |  FROM events GROUP BY 1, 2),
         |b AS (SELECT event_type, min(hr) AS mn, max(hr) AS mx FROM h GROUP BY 1),
         |s AS (SELECT event_type, unnest(generate_series(mn, mx)) AS hr FROM b)
         |SELECT s.event_type, s.hr,
         |  coalesce(h.n, 0) AS n, coalesce(h.total, 0.0) AS total,
         |  last_value(h.total IGNORE NULLS) OVER (
         |    PARTITION BY s.event_type ORDER BY s.hr
         |    ROWS UNBOUNDED PRECEDING) AS ffill_total
         |FROM s LEFT JOIN h ON s.event_type = h.event_type AND s.hr = h.hr
         |ORDER BY s.event_type, s.hr""".stripMargin
    },
    // same moment shapes as q_corr_stats (width-19 products for
    // DuckDB's hugeint path), identical final IEEE expression
    "q_zscore" ->
      """WITH m AS (
        |  SELECT l_returnflag, CAST(count(*) AS DOUBLE) AS n,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sx,
        |    CAST(SUM(CAST(l_extendedprice AS DECIMAL(19,6))
        |           * CAST(l_extendedprice AS DECIMAL(19,6))) AS DOUBLE) AS sxx
        |  FROM lineitem WHERE l_suppkey <= 3 GROUP BY 1)
        |SELECT l_orderkey, l_linenumber, l.l_returnflag,
        |  round((l_extendedprice - sx / n)
        |        / sqrt((n*sxx - sx*sx) / (n*(n - 1.0))), 6) AS zscore
        |FROM lineitem l JOIN m ON l.l_returnflag = m.l_returnflag
        |WHERE l_suppkey <= 3
        |ORDER BY l_orderkey, l_linenumber, l.l_returnflag, zscore""".stripMargin,
    "q_lag_delta" ->
      """SELECT event_id, user_id,
        |  CAST(floor(epoch(ts)) AS BIGINT)
        |    - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
        |        PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        |FROM events ORDER BY event_id""".stripMargin,
    "q_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS q1_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS q3_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // VARIANT lake key: the oracle replays the variant_get arithmetic
    // with DuckDB's JSON functions over the raw events parquet
    "q_txlog_variant" ->
      """WITH ev AS (
        |  SELECT event_type,
        |         CAST(json_extract(props, '$.k') AS BIGINT) AS k
        |  FROM events),
        |live AS (
        |  SELECT event_type, count(*) AS n_live,
        |         CAST(sum(k) AS BIGINT) AS sum_k
        |  FROM ev WHERE k % 7 <> 0 GROUP BY event_type),
        |dels AS (
        |  SELECT event_type, count(*) AS n_cdc_deletes
        |  FROM ev WHERE k % 7 = 0 GROUP BY event_type)
        |SELECT l.event_type, l.n_live, l.sum_k,
        |       COALESCE(d.n_cdc_deletes, 0) AS n_cdc_deletes
        |FROM live l LEFT JOIN dels d USING (event_type)
        |ORDER BY l.event_type""".stripMargin,
    // bound-checked approx gates (r17): the exact columns hash-verify;
    // the *_ok flags are computed Spark-side against the exact answer
    // with the algorithm's published error bound and must all read
    // TRUE — a sketch regression hash-mismatches instead of hiding
    // behind `no_oracle`
    "q_approx_distinct" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS exact_parts,
        |  true AS bound_ok
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q_approx_percentile" ->
      """SELECT l_returnflag,
        |  round(quantile_cont(l_quantity, 0.5), 4) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.25), 4) AS q1_price,
        |  round(quantile_cont(l_extendedprice, 0.75), 4) AS q3_price,
        |  true AS med_ok, true AS q1_ok, true AS q3_ok
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_hll_rollup" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  true AS bound_ok
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_hll_overlap" ->
      """SELECT
        |  (SELECT count(DISTINCT user_id) FROM events
        |     WHERE event_type = 'view') AS exact_a,
        |  (SELECT count(DISTINCT user_id) FROM events
        |     WHERE event_type = 'purchase') AS exact_b,
        |  (SELECT count(*) FROM
        |     (SELECT DISTINCT user_id FROM events WHERE event_type = 'view'
        |      INTERSECT
        |      SELECT DISTINCT user_id FROM events
        |      WHERE event_type = 'purchase')) AS exact_intersection,
        |  true AS a_ok, true AS b_ok, true AS i_ok""".stripMargin,
    "q_unpivot" ->
      """SELECT l_orderkey, l_linenumber, metric, value FROM (
        |  SELECT l_orderkey, l_linenumber, 'qty' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'price', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'disc', l_discount FROM lineitem) t
        |ORDER BY l_orderkey, l_linenumber, metric, value""".stripMargin,
    "q_distinct_count" ->
      """SELECT l_suppkey, count(DISTINCT l_partkey) AS n_parts, count(*) AS n_rows
        |FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""".stripMargin,
    "q_json_extract" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS INT) AS k
        |FROM events ORDER BY event_id""".stripMargin,
    "q_topk_group" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice FROM (
        |  SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
        |    row_number() OVER (PARTITION BY l_suppkey
        |      ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
        |  FROM lineitem) t
        |WHERE rn <= 3
        |ORDER BY l_suppkey, l_extendedprice DESC, l_orderkey, l_linenumber""".stripMargin,
    "q1_agg" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${dsumSql("l_quantity")} AS sum_qty,
         |  ${dsumSql("l_extendedprice")} AS sum_base_price,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${dsumSql("(l_extendedprice * (1.0 - l_discount)) * (1.0 + l_tax)")} AS sum_charge,
         |  ${dsumSql("l_quantity")} / count(*) AS avg_qty,
         |  ${dsumSql("l_extendedprice")} / count(*) AS avg_price,
         |  ${dsumSql("l_discount")} / count(*) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
         |GROUP BY l_returnflag, l_linestatus
         |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_profile" -> Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c =>
        s"""SELECT '$c' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count($c) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(min($c) AS DOUBLE) AS vmin, CAST(max($c) AS DOUBLE) AS vmax
           |FROM lineitem""".stripMargin)
      .mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    "q_retention" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 604800000000 AS wk FROM events),
        |f AS (
        |  SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY user_id),
        |a AS (
        |  SELECT DISTINCT e.user_id, cohort_week, wk - cohort_week AS week_offset
        |  FROM e JOIN f USING (user_id)),
        |c AS (
        |  SELECT cohort_week, week_offset, CAST(count(*) AS BIGINT) AS n_active
        |  FROM a GROUP BY cohort_week, week_offset)
        |SELECT cohort_week, week_offset, n_active,
        |  round(n_active / max(CASE WHEN week_offset = 0 THEN n_active END)
        |    OVER (PARTITION BY cohort_week), 6) AS retention
        |FROM c ORDER BY cohort_week, week_offset""".stripMargin,
    "q_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
        |v AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN tsu END)
        |    OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS t_view
        |  FROM e),
        |c AS (
        |  SELECT *, min(CASE WHEN event_type = 'click' AND tsu >= t_view THEN tsu END)
        |    OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS t_click
        |  FROM v),
        |pu AS (
        |  SELECT user_id,
        |    max(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS s1,
        |    max(CASE WHEN t_click IS NOT NULL THEN 1 ELSE 0 END) AS s2,
        |    max(CASE WHEN event_type = 'purchase' AND tsu >= t_click
        |        THEN 1 ELSE 0 END) AS s3
        |  FROM c GROUP BY user_id)
        |SELECT CAST(sum(s1) AS BIGINT) AS n_view,
        |  CAST(sum(s2) AS BIGINT) AS n_view_click,
        |  CAST(sum(s3) AS BIGINT) AS n_full_funnel
        |FROM pu""".stripMargin,
    "q_bloom_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_totalprice > 450000
         |GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin,
    "q5_join_agg" ->
      s"""SELECT n_name, ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
         |GROUP BY n_name
         |ORDER BY revenue DESC, n_name""".stripMargin,
    "q10_returned" ->
      s"""SELECT c_custkey, c_name, n_name,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |WHERE l_returnflag = 'R'
         |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
         |  AND o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,
    // per-term exp() through DECIMAL(18,6), identical IEEE expression
    // (the lmScore pattern for transcendentals)
    "q_decay_score" ->
      """WITH a AS (SELECT max(epoch_us(ts)) AS tmax FROM events)
        |SELECT user_id, count(*) AS n_events,
        |  CAST(SUM(CAST(value * exp((epoch_us(ts) - tmax)
        |        / 86400000000.0 * ln(2)) AS DECIMAL(18,6))) AS DOUBLE) AS score
        |FROM events CROSS JOIN a
        |GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q3_join_agg" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate, o_orderpriority,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |WHERE c_mktsegment = 'BUILDING'
         |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
         |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
         |GROUP BY 1, 2, 3
         |ORDER BY revenue DESC, l_orderkey LIMIT 10""".stripMargin,
    "q_rollup" ->
      s"""SELECT r_name AS region, n_name AS nation, count(*) AS n_suppliers,
         |  ${dsumSql("s_acctbal")} AS total_bal
         |FROM supplier
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)
         |ORDER BY region ASC NULLS FIRST, nation ASC NULLS FIRST""".stripMargin,
    "q_time_window" ->
      s"""SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS wstart,
         |  event_type, count(*) AS n, ${dsumSql("value")} AS total
         |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
    // structurally the same single-pass conditional aggregation as the
    // Spark side (UNION ALL ≡ the 2-element explode), so a channel
    // missing from one credit model can never produce a full-join-NULL
    // vs zero-count divergence between the engines
    "q_attribution" ->
      s"""WITH att AS (
         |  SELECT event_type, value,
         |    first_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS first_ch,
         |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
         |      OVER (PARTITION BY user_id ORDER BY ts, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_ch
         |  FROM events),
         |p AS (SELECT * FROM att
         |      WHERE event_type = 'purchase' AND first_ch IS NOT NULL),
         |long AS (
         |  SELECT first_ch AS channel, 1 AS is_first, value FROM p
         |  UNION ALL
         |  SELECT last_ch AS channel, 0 AS is_first, value FROM p)
         |SELECT channel,
         |  count(CASE WHEN is_first = 1 THEN 1 END) AS n_first,
         |  COALESCE(${dsumSql("CASE WHEN is_first = 1 THEN value END")}, 0.0) AS rev_first,
         |  count(CASE WHEN is_first = 0 THEN 1 END) AS n_last,
         |  COALESCE(${dsumSql("CASE WHEN is_first = 0 THEN value END")}, 0.0) AS rev_last
         |FROM long GROUP BY channel ORDER BY channel""".stripMargin,
    "q_debounce" ->
      """WITH g AS (
        |  SELECT event_id, user_id, event_type, ts, value,
        |    lag(ts) OVER (PARTITION BY user_id, event_type
        |                  ORDER BY ts, event_id) AS prev_ts
        |  FROM events)
        |SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us, value
        |FROM g
        |WHERE prev_ts IS NULL OR epoch_us(ts) - epoch_us(prev_ts) >= 1800000000
        |ORDER BY event_id""".stripMargin,
    // integer-PPM probability: 1000000 * n // tot is one number on any
    // engine, unlike decimal division whose result-scale rules differ
    "q_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type AS cur,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS nxt
        |  FROM events),
        |c AS (
        |  SELECT cur, nxt, count(*) AS n FROM seq
        |  WHERE nxt IS NOT NULL GROUP BY 1, 2)
        |SELECT cur, nxt, n,
        |  CAST(1000000 * n // sum(n) OVER (PARTITION BY cur) AS BIGINT) AS p_ppm
        |FROM c ORDER BY cur, nxt""".stripMargin,
    "q_sessionize" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, CAST(SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sess
        |  FROM flagged)
        |SELECT user_id, sess, count(*) AS n_events,
        |  CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
        |  CAST(floor(epoch(max(ts))) AS BIGINT) AS sess_end
        |FROM numbered GROUP BY user_id, sess ORDER BY user_id, sess""".stripMargin,
    "q_top_paths" ->
      """WITH flagged AS (
        |  SELECT user_id, event_id, ts, event_type,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR epoch(ts) - epoch(lag(ts) OVER w) > 1800.0
        |         THEN 1 ELSE 0 END AS new_sess
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |numbered AS (
        |  SELECT *, SUM(new_sess) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sess
        |  FROM flagged),
        |stepped AS (
        |  SELECT user_id, sess, event_type,
        |    row_number() OVER (PARTITION BY user_id, sess
        |      ORDER BY ts, event_id) AS pos
        |  FROM numbered),
        |paths AS (
        |  SELECT user_id, sess,
        |    string_agg(event_type, '>' ORDER BY pos) AS path
        |  FROM stepped WHERE pos <= 5 GROUP BY user_id, sess)
        |SELECT path, COUNT(*) AS n FROM paths
        |GROUP BY path ORDER BY n DESC, path LIMIT 20""".stripMargin,
    "q_forecast" ->
      """WITH ev AS (
        |  SELECT event_type,
        |    epoch_us(ts) // 86400000000 AS day,
        |    (epoch_us(ts) // 3600000000) % 24 AS hod
        |  FROM events),
        |dmax AS (SELECT MAX(day) AS d FROM ev),
        |nprior AS (
        |  SELECT COUNT(DISTINCT day) AS np FROM ev, dmax WHERE day < d),
        |counts AS (
        |  SELECT event_type, day, hod, COUNT(*) AS c
        |  FROM ev GROUP BY 1, 2, 3),
        |prior AS (
        |  SELECT event_type, hod, SUM(c) AS c_prior
        |  FROM counts, dmax WHERE day < d GROUP BY 1, 2),
        |actual AS (
        |  SELECT event_type, hod, c AS c_actual
        |  FROM counts, dmax WHERE day = d),
        |spine AS (
        |  SELECT event_type, CAST(u.h AS BIGINT) AS hod
        |  FROM (SELECT DISTINCT event_type FROM ev), UNNEST(range(0, 24)) AS u(h)),
        |scored AS (
        |  SELECT s.event_type,
        |    CAST(abs(CAST(COALESCE(a.c_actual, 0) AS DOUBLE)
        |             - CAST(COALESCE(p.c_prior, 0) AS DOUBLE)
        |               / CAST((SELECT np FROM nprior) AS DOUBLE))
        |      AS DECIMAL(18,6)) AS ae
        |  FROM spine s
        |  LEFT JOIN prior p USING (event_type, hod)
        |  LEFT JOIN actual a USING (event_type, hod))
        |SELECT event_type, round(CAST(SUM(ae) AS DOUBLE) / 24.0, 6) AS mae
        |FROM scored GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_funnel_latency" ->
      """WITH fv AS (
        |  SELECT user_id, MIN(epoch_us(ts)) AS vus
        |  FROM events WHERE event_type = 'view' GROUP BY user_id),
        |lat AS (
        |  SELECT e.user_id, MIN(epoch_us(e.ts)) - MIN(fv.vus) AS lat_us
        |  FROM events e JOIN fv USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_us(e.ts) >= fv.vus
        |  GROUP BY e.user_id)
        |SELECT (SELECT COUNT(*) FROM lat) AS n_converted,
        |  round(quantile_cont(lat_us, 0.5), 1) AS p50_us,
        |  round(quantile_cont(lat_us, 0.9), 1) AS p90_us
        |FROM lat""".stripMargin,
    "q_asof_join" ->
      """SELECT e.event_id, e.user_id,
        |  CAST(floor(epoch(e.ts)) AS BIGINT) AS ts_s,
        |  CAST(floor(epoch(s.ts)) AS BIGINT) AS signup_ts_s
        |FROM (SELECT * FROM events WHERE event_type = 'error') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id""".stripMargin,
    "q_skew_agg" ->
      s"""SELECT event_type, count(*) AS n_events, ${dsumSql("value")} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the salt is a pure execution-strategy detail: the salted join's
    // RESULT is the plain join, so the oracle is the plain join
    "q_skew_join" ->
      """SELECT event_id, event_type, upper(event_type) AS type_label, value
        |FROM events ORDER BY event_id""".stripMargin,
    // bucketing is a pure layout/execution detail — the oracle is the
    // plain join+agg over the unbucketed tables
    "q_bucket_join" ->
      s"""SELECT o_orderpriority, count(*) AS n_items,
         |  ${dsumSql("l_extendedprice")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
    "stream_window_counts" ->
      """SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS wstart,
        |  event_type, count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin,
  )
}
