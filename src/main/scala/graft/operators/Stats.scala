package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Grouped second-moment statistics (correlation / covariance / stddev)
  * computed from EXACT decimal moment sums.
  *
  * Spark's built-in `corr`/`covar_samp`/`stddev_samp` are the everyday
  * path — numerically stable single-pass merge formulas, fully
  * partial-aggregable. What they are NOT is bit-reproducible across
  * engines or even across partition layouts: their double accumulators
  * combine in partition order, so the same data can yield answers a few
  * ulp apart run to run. For an audit surface (and the DuckDB oracle
  * gate) that difference is a hash mismatch.
  *
  * This operator instead aggregates the five raw moments
  * (Σx, Σy, Σxy, Σx², Σy²) as DECIMAL — inputs with bounded decimal
  * scale make every product and sum EXACT, the partial aggregation is
  * a plain decimal sum (map-side combinable, one shuffle, no extra
  * pass) — and only the final per-group formula runs in doubles. Both
  * engines then evaluate the identical IEEE expression over identical
  * operands, so the result is bit-identical, not "close".
  *
  * Contract: x and y must carry ≤6 decimal digits of true scale (the
  * [[graft.queries.Det]] rationale) and |x|,|y| < 10^12 so the
  * DECIMAL(18,6) cast is exact; group cardinality is the only reduced
  * output, so the shuffle is group-sized.
  */
object Stats {

  /** Per-group n / corr(x,y) / covar_samp(x,y) / stddev_samp(x) /
    * stddev_samp(y), decimal-moment-exact (see object doc). Degenerate
    * groups (n < 2, zero variance) hit the same IEEE division/sqrt on
    * both engines and so still compare identically.
    */
  def corrStats(df: DataFrame, groupCol: String, xCol: String, yCol: String): DataFrame = {
    val x = col(xCol).cast(DecimalType(18, 6))
    val y = col(yCol).cast(DecimalType(18, 6))
    val n = col("_n"); val sx = col("_sx"); val sy = col("_sy")
    val sxy = col("_sxy"); val sxx = col("_sxx"); val syy = col("_syy")
    // the three centered second moments, shared by every output column —
    // spelled once so both engines see one expression shape
    val mxy = n * sxy - sx * sy
    val mxx = n * sxx - sx * sx
    val myy = n * syy - sy * sy
    val nn1 = n * (n - lit(1.0))
    df.groupBy(groupCol)
      .agg(
        count(lit(1)).cast("double").as("_n"),
        sum(x).cast("double").as("_sx"),
        sum(y).cast("double").as("_sy"),
        sum(x * y).cast("double").as("_sxy"),
        sum(x * x).cast("double").as("_sxx"),
        sum(y * y).cast("double").as("_syy"))
      .select(
        col(groupCol),
        n.cast("long").as("n"),
        round(mxy / (sqrt(mxx) * sqrt(myy)), 6).as("corr_xy"),
        round(mxy / nn1, 6).as("covar_xy"),
        round(sqrt(mxx / nn1), 6).as("stddev_x"),
        round(sqrt(myy / nn1), 6).as("stddev_y"))
  }

  /** Per-group ordinary-least-squares fit of y on x — slope /
    * intercept / R², the regression companion of [[corrStats]] built
    * from the SAME exact decimal moment sums (one shuffle, map-side
    * combinable, group-sized output). Spark 4 ships `regr_slope`
    * etc., but like `corr` they accumulate in partition-order-
    * dependent doubles; the moment form is bit-reproducible across
    * engines and layouts. Degenerate groups (n < 2 or zero x
    * variance) hit the same IEEE 0/0 on both engines. */
  def olsRegression(df: DataFrame, groupCol: String, xCol: String,
                    yCol: String): DataFrame = {
    val x = col(xCol).cast(DecimalType(18, 6))
    val y = col(yCol).cast(DecimalType(18, 6))
    val n = col("_n"); val sx = col("_sx"); val sy = col("_sy")
    val sxy = col("_sxy"); val sxx = col("_sxx"); val syy = col("_syy")
    val mxy = n * sxy - sx * sy
    val mxx = n * sxx - sx * sx
    val myy = n * syy - sy * sy
    df.groupBy(groupCol)
      .agg(
        count(lit(1)).cast("double").as("_n"),
        sum(x).cast("double").as("_sx"),
        sum(y).cast("double").as("_sy"),
        sum(x * y).cast("double").as("_sxy"),
        sum(x * x).cast("double").as("_sxx"),
        sum(y * y).cast("double").as("_syy"))
      .select(
        col(groupCol),
        n.cast("long").as("n"),
        round(mxy / mxx, 6).as("slope"),
        round((sy - mxy / mxx * sx) / n, 6).as("intercept"),
        round(mxy * mxy / (mxx * myy), 6).as("r2"))
  }

  /** Retrieval-quality metrics — NDCG@k / MRR@k / precision@k per
    * query, the evaluation loop every ranking operator here (BM25,
    * ANN, hybrid RRF) feeds into. `pred` carries one row per
    * (query, item) with a 1-based `rank`; `truth` carries graded
    * relevance `rel ≥ 0` (missing pairs are irrelevant).
    *
    * Shapes: predictions at rank ≤ k LEFT-join the truth on
    * (query, item) — one equi-join, truth side usually the smaller
    * (AQE broadcasts it); the ideal DCG is a window top-k over the
    * truth alone. Both sides reduce to one row per query before the
    * final group-sized join.
    *
    * Determinism: each DCG term ((2^rel − 1) / log2(rank + 1)) rounds
    * through DECIMAL(18,6) before the sum (the lmScore pattern), so
    * partial-agg order and engine libm differences cannot wiggle the
    * total; log2 is spelled ln(r+1)/ln(2) with the SAME operand shapes
    * on both engines. */
  /** Reliability table (calibration bins) — the third leg of the eval
    * family after [[rankEval]] and [[auc]]: a probability-like score
    * clamps into [0,1], lands in one of `bins` equal-width bins, and
    * each OCCUPIED bin reports (n, mean_score, pos_rate, abs_gap).
    * The expected-calibration-error scalar is one trivial aggregate
    * away (Σ n/N · abs_gap) and deliberately not folded in: the
    * per-bin table is the diagnostic — a single scalar hides WHERE
    * the miscalibration lives.
    *
    * Scale: ONE map-side-combinable aggregate over the rows, output
    * bounded by `bins`. Determinism: score sums ride DECIMAL(18,6)
    * (the dsum pattern) so partial-agg order can't wiggle the means;
    * a score of exactly 1.0 belongs to the TOP bin, not a phantom
    * bins-th one. */
  def calibration(df: DataFrame, scoreCol: String, labelCol: String,
                  bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 10000,
      s"Stats.calibration: bins must be in [2, 10000], got $bins")
    val s = col(scoreCol).cast("double")
    val clamped = least(greatest(s, lit(0.0)), lit(1.0))
    val bin = least(floor(clamped * lit(bins.toDouble)).cast("int"),
      lit(bins - 1))
    val mean = col("_ss").cast("double") / col("n").cast("double")
    val rate = col("n_pos").cast("double") / col("n").cast("double")
    // mean_score sums the CLAMPED score — the same domain the binning
    // used — so an out-of-range input can widen an edge bin but never
    // push mean_score/abs_gap outside [0,1] (r14 advice)
    df.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(clamped.cast(DecimalType(18, 6))).as("_ss"),
        sum(when(col(labelCol).cast("int") === 1, 1L).otherwise(0L))
          .as("n_pos"))
      .select(col("bin"), col("n"),
        round(mean, 6).as("mean_score"),
        round(rate, 6).as("pos_rate"),
        round(abs(mean - rate), 6).as("abs_gap"))
      .orderBy("bin")
  }

  /** Precision/recall table at equal-width score thresholds — the
    * fourth leg of the eval family (ranked retrieval → [[rankEval]],
    * discrimination → [[auc]], score honesty → [[calibration]],
    * OPERATING POINT → this): for each threshold t = i/`bins`
    * (i = 0..bins−1), the classifier "predict positive ⇔ score ≥ t"
    * scores precision = TP/(TP+FP) and recall = TP/P. The table is
    * what picks a deployment threshold; AUC alone cannot. (Column is
    * named `prec` — PRECISION is a reserved word in ANSI engines and
    * the oracle must spell the same name.)
    *
    * Scale: the SAME one map-side-combinable bin aggregate
    * [[calibration]] runs (output bounded by `bins`), then a bins-row
    * descending cumulative window — never a per-row sort. Determinism:
    * TP/FP/P are integer counts; one division + round(6) at the end.
    * A score of exactly 1.0 clamps into the top bin; an empty-positive
    * corpus surfaces null recall rather than dropping rows. NULL-score
    * rows bin to a sentinel below every threshold: they never predict
    * positive at any operating point (an unscored row cannot clear a
    * threshold), but their positives DO count in the recall
    * denominator, so recall reflects the whole corpus — the
    * consistency [[calibration]]'s visible null-bin row has (r15
    * advice: silently dropping them deflated P invisibly). */
  def prCurve(df: DataFrame, scoreCol: String, labelCol: String,
              bins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(bins >= 2 && bins <= 10000,
      s"Stats.prCurve: bins must be in [2, 10000], got $bins")
    val s = col(scoreCol).cast("double")
    val clamped = least(greatest(s, lit(0.0)), lit(1.0))
    // bin -1 = unscored (NULL) rows: present in the totals, absent
    // from every threshold's cumulative TP/predicted_pos
    val bin = when(s.isNull, lit(-1)).otherwise(
      least(floor(clamped * lit(bins.toDouble)).cast("int"), lit(bins - 1)))
    val perBin = df.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(when(col(labelCol).cast("int") === 1, 1L).otherwise(0L))
          .as("n_pos"))
    val spark = df.sparkSession
    import spark.implicits._
    // every threshold row exists even when its bin is empty: the
    // operating-point table must not skip thresholds
    val edges = (0 until bins).map(i => (i, math.round(i.toDouble / bins * 1e6) / 1e6))
      .toDF("bin", "threshold")
    val w = Window.orderBy(col("bin").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = edges.join(perBin, Seq("bin"), "left")
      .select(col("bin"), col("threshold"),
        coalesce(col("n"), lit(0L)).as("n"),
        coalesce(col("n_pos"), lit(0L)).as("n_pos"))
      .withColumn("predicted_pos", sum(col("n")).over(w))
      .withColumn("tp", sum(col("n_pos")).over(w))
    // P over ALL bins including the null sentinel — one aggregated row
    // broadcast onto the bins-row frame
    val totals = perBin.agg(sum(col("n_pos")).as("_p"))
    cum.crossJoin(broadcast(totals))
      .select(col("threshold"), col("predicted_pos"), col("tp"),
        round(when(col("predicted_pos") > 0,
          col("tp").cast("double") / col("predicted_pos").cast("double")), 6)
          .as("prec"),
        round(when(col("_p") > 0,
          col("tp").cast("double") / col("_p").cast("double")), 6)
          .as("recall"))
      .orderBy("threshold")
  }

  /** Group-wise ROC AUC via the Mann-Whitney rank formulation with
    * AVERAGE ranks for ties — the classifier-eval twin of [[rankEval]]
    * (there: ranked retrieval vs graded truth; here: a scalar score vs
    * a binary label). For each group:
    * AUC = (Σ_{pos} r̄ − nPos(nPos+1)/2) / (nPos · nNeg), where a tied
    * score's average rank is (rows strictly below) + (tied + 1)/2 —
    * the exact tie handling scikit-learn's roc_auc_score applies, so a
    * 0.5 contribution per tied positive/negative pair, never a biased
    * extreme. A group missing either class has no ranking to score →
    * null AUC (visible, not dropped).
    *
    * Scale: one map-side-combinable (group, score) rollup, one
    * per-group ordered window over the DISTINCT scores (bounded by
    * distinct scores, not rows), one final group aggregate — no
    * row-level global sort, no per-group value maps on the shuffle.
    * Determinism: ranks and class counts are integers (exact in
    * double far beyond any group size here); one division + round(6)
    * at the end is the same IEEE arithmetic on both engines. */
  def auc(df: DataFrame, groupCol: String, scoreCol: String,
          labelCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val s = df
      .groupBy(col(groupCol), col(scoreCol).as("_s"))
      .agg(count(lit(1)).as("_n"),
        sum(when(col(labelCol).cast("int") === 1, 1L).otherwise(0L))
          .as("_np"))
    val w = Window.partitionBy(groupCol).orderBy(col("_s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = s.withColumn("_cb", coalesce(sum(col("_n")).over(w), lit(0L)))
    ranked.groupBy(groupCol).agg(
        sum(col("_np").cast("double") * (col("_cb").cast("double") +
          (col("_n").cast("double") + lit(1.0)) / lit(2.0))).as("_spr"),
        sum(col("_np")).as("n_pos"),
        (sum(col("_n")) - sum(col("_np"))).as("n_neg"))
      .select(col(groupCol), col("n_pos"), col("n_neg"),
        round(when(col("n_pos") === 0 || col("n_neg") === 0, lit(null))
          .otherwise((col("_spr") - col("n_pos").cast("double") *
            (col("n_pos").cast("double") + lit(1.0)) / lit(2.0)) /
            (col("n_pos").cast("double") * col("n_neg").cast("double"))), 6)
          .as("auc"))
      .orderBy(groupCol)
  }

  def rankEval(pred: DataFrame, truth: DataFrame, k: Int,
               queryCol: String = "query_id", itemCol: String = "item_id",
               rankCol: String = "rank", relCol: String = "rel"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ln2 = log(lit(2.0))
    def dcgTerm(rel: Column, rank: Column): Column =
      ((pow(lit(2.0), rel.cast("double")) - lit(1.0)) /
        (log(rank.cast("double") + lit(1.0)) / ln2))
        .cast(DecimalType(18, 6))
    val hits = pred.filter(col(rankCol) <= k)
      .join(truth.select(col(queryCol), col(itemCol),
        col(relCol).as("_rel")), Seq(queryCol, itemCol), "left")
      .withColumn("_rel", coalesce(col("_rel"), lit(0)))
    val got = hits.groupBy(queryCol).agg(
      sum(dcgTerm(col("_rel"), col(rankCol))).cast("double").as("_dcg"),
      min(when(col("_rel") > 0, col(rankCol))).as("_first_rel"),
      count(when(col("_rel") > 0, lit(1))).as("_n_rel"))
    // ideal ordering: rel desc; ties broken by item id — tie order
    // cannot change the DCG value, only make row_number deterministic
    val iw = Window.partitionBy(queryCol)
      .orderBy(col(relCol).desc, col(itemCol))
    val ideal = truth.filter(col(relCol) > 0)
      .withColumn("_ir", row_number().over(iw))
      .filter(col("_ir") <= k)
      .groupBy(queryCol)
      .agg(sum(dcgTerm(col(relCol), col("_ir"))).cast("double").as("_idcg"))
    // FULL OUTER: a query with relevant truth but NO predictions at
    // rank ≤ k must surface with zeros, not vanish — dropping it would
    // silently inflate any averaged metric by excluding exactly the
    // worst-failing queries (review finding)
    got.join(ideal, Seq(queryCol), "full_outer")
      .select(
        col(queryCol),
        round(when(col("_idcg").isNull || col("_idcg") === 0.0 ||
            col("_dcg").isNull, 0.0)
          .otherwise(col("_dcg") / col("_idcg")), 6).as("ndcg"),
        round(coalesce(lit(1.0) / col("_first_rel").cast("double"), lit(0.0)), 6)
          .as("mrr"),
        round(coalesce(col("_n_rel").cast("double"), lit(0.0)) / lit(k.toDouble), 6)
          .as("p_at_k"))
  }

  /** Robust per-group outlier accounting via the median absolute
    * deviation — the outlier detector that, unlike [[zscore]], a few
    * huge outliers cannot blind (they drag the mean and inflate the
    * stddev; the median barely moves). Two exact-percentile passes
    * (the [[Percentiles]] histogram plan — no per-group value maps on
    * the shuffle) and one counting aggregate: median, MAD, and how
    * many rows sit beyond `k` MADs. The group-sized medians join back
    * onto the rows (AQE broadcasts them); every comparison is the
    * same IEEE arithmetic on both engines. */
  /** `exact = false` swaps both median passes for
    * `approx_percentile` sketches (constant memory per group — the
    * 100 TB default): on a mostly-unique column like money amounts the
    * exact histogram's distinct-value set grows with the corpus (the
    * documented Percentiles regime), while the sketch stays flat at a
    * bounded relative rank error. The outlier COUNT against the
    * approximate median/MAD is itself exact arithmetic — only the two
    * center statistics carry sketch error. */
  def madOutliers(df: DataFrame, groupCol: String, xCol: String,
                  k: Double = 3.0, exact: Boolean = true): DataFrame = {
    if (exact) {
      // EXACT medians by iterative bucket refinement — no corpus sort
      // anywhere. The r7-r16 plan built a (group, value) histogram and
      // ran sort-windows over it; on a mostly-unique column (money
      // amounts: 97% distinct) that "histogram" IS the corpus, so both
      // percentile passes were corpus-sized sorts — the actual 100 TB
      // weak spot, and 3+ s of the bench window at sf0.1. Refinement
      // replaces each sort with 2-3 column-pruned AGGREGATION passes
      // (seed min/max/count, bucket counts, final in-bucket resolve),
      // every one map-side-combinable with a group-sized shuffle.
      // Driver state is group-cardinality×bucket-count bounded (the
      // Sampling per-stratum-counts pattern), never row-bounded.
      val rows = df.select(col(groupCol).as("_g"),
        col(xCol).cast("double").as("_v"))
      // the refinement passes (seed, 1-2 bucket passes and a final
      // resolve per percentile) re-read this 2-column projection.
      // Persisting it wins when the projection fits executor storage
      // (the bench regime: repeated passes hit memory) and LOSES once
      // the store spills — at corpus scale re-running the column-pruned
      // scan per pass is the better posture (ScaleCheckQuantiles at
      // commit 2375eab measured both). The persist unpersists before
      // the returned frame ever executes, so the tally re-plans from
      // the pruned scan either way.
      rows.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
      val seed = rows.groupBy("_g").agg(
          count(col("_v")).as("n1"), min("_v").as("lo"), max("_v").as("hi"),
          count(lit(1)).as("nAll"))
        .collect()
        .map(r => Quantiles.Seed(r.get(0), r.getLong(1),
          if (r.isNullAt(2)) 0.0 else r.getDouble(2),
          if (r.isNullAt(3)) 0.0 else r.getDouble(3)))
        .toSeq
      val gField = org.apache.spark.sql.types.StructField(
        "_g", rows.schema("_g").dataType, nullable = true)
      val meds = Quantiles.refined(rows, 0.5, seed)
      // the resolved medians/MADs attach as literal when-chains, not
      // broadcast-joined literal frames: the seed enumerates EVERY
      // group of `rows`, so the chain is total and the old null-safe
      // inner joins never dropped a row — identical values, minus a
      // parallelize + BroadcastExchange build job per reference
      // (guide §5; litFrame + join remains the >InlineStateMax path)
      lazy val medDf = Quantiles.litFrame(df.sparkSession, gField, meds, "_med")
      val medChain = Quantiles.litChain(col("_g"), meds)
      // |v − med| bounds derive from the seed (no extra pass): the
      // deviations live in [0, max(hi−med, med−lo)]
      val rowsAbs = medChain match {
        case Some(me) =>
          rows.select(col("_g"), abs(col("_v") - me).as("_v"))
        case None =>
          rows.join(broadcast(medDf), rows("_g") <=> medDf("_mg"))
            .select(rows("_g"), abs(col("_v") - col("_med")).as("_v"))
      }
      val medMap = meds.toMap
      val seedAbs = seed.map { s =>
        medMap.get(s.g).flatMap(Option(_)) match {
          case Some(m) => Quantiles.Seed(s.g, s.n1, 0.0,
            math.max(s.hi - m, m - s.lo))
          case None => Quantiles.Seed(s.g, 0L, 0.0, 0.0) // all-null group
        }
      }
      val mads = Quantiles.refined(rowsAbs, 0.5, seedAbs)
      val madChain = Quantiles.litChain(col("_g"), mads)
      (medChain, madChain) match {
        case (Some(me), Some(ma)) =>
          rows
            .select(col("_g"), col("_v"), me.as("_med"), ma.as("_mad"))
            .groupBy(col("_g").as(groupCol))
            .agg(
              count(lit(1)).as("n"),
              round(max(col("_med")), 6).as("median"),
              round(max(col("_mad")), 6).as("mad"),
              coalesce(sum(when(abs(col("_v") - col("_med")) > lit(k) * col("_mad"),
                lit(1L))), lit(0L)).as("n_outliers"))
        case _ =>
          val madDf = Quantiles.litFrame(df.sparkSession, gField, mads, "_mad")
            .withColumnRenamed("_mg", "_mg2")
          rows
            .join(broadcast(medDf), rows("_g") <=> medDf("_mg"))
            .join(broadcast(madDf), rows("_g") <=> madDf("_mg2"))
            .groupBy(rows("_g").as(groupCol))
            .agg(
              count(lit(1)).as("n"),
              round(max(col("_med")), 6).as("median"),
              round(max(col("_mad")), 6).as("mad"),
              coalesce(sum(when(abs(col("_v") - col("_med")) > lit(k) * col("_mad"),
                lit(1L))), lit(0L)).as("n_outliers"))
      }
      } finally rows.unpersist(blocking = false)
    } else {
      def median(in: DataFrame, c: String, out: String): DataFrame =
        in.groupBy(groupCol)
          .agg(expr(s"approx_percentile($c, 0.5, 10000)")
            .cast("double").as(out))
      val med = median(df, xCol, "_med")
      val withDev = df.join(med, Seq(groupCol))
        .withColumn("_absdev", abs(col(xCol) - col("_med")))
      val mad = median(withDev, "_absdev", "_mad")
      withDev.join(mad, Seq(groupCol))
        .groupBy(groupCol)
        .agg(
          count(lit(1)).as("n"),
          round(max(col("_med")), 6).as("median"),
          round(max(col("_mad")), 6).as("mad"),
          count(when(col("_absdev") > lit(k) * col("_mad"), lit(1)))
            .as("n_outliers"))
    }
  }

  /** Chi-square contingency decomposition of two categorical columns —
    * the feature-association test behind "does return flag depend on
    * line status" and categorical-feature selection. One cell per
    * (a, b) pair with observed count, expected-under-independence
    * count e = rowTotal·colTotal/N, and the cell's χ² contribution
    * (o−e)²/e; Σ contrib is the statistic.
    *
    * One corpus shuffle (the cell counts, partial-aggregable); row
    * and column totals re-aggregate from the CELLS (category-sized,
    * not corpus-sized) and join back group-sized; N rides a broadcast
    * one-row anchor. Everything is a ratio of exact int64 counts cast
    * to double at the end — bit-identical cross-engine. */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(col(aCol), col(bCol))
      .agg(count(lit(1)).as("_o"))
    val rowT = cells.groupBy(col(aCol)).agg(sum(col("_o")).as("_ra"))
    val colT = cells.groupBy(col(bCol)).agg(sum(col("_o")).as("_cb"))
    val n = cells.agg(sum(col("_o")).as("_n"))
    val e = (col("_ra") * col("_cb")).cast("double") / col("_n").cast("double")
    val o = col("_o").cast("double")
    cells
      .join(rowT, Seq(aCol))
      .join(colT, Seq(bCol))
      .crossJoin(broadcast(n))
      .select(
        col(aCol), col(bCol), col("_o").as("observed"),
        round(e, 6).as("expected"),
        round((o - e) * (o - e) / e, 6).as("chi2_contrib"))
  }

  /** Per-row z-score standardization of `xCol` against its group's
    * sample mean/stddev — the feature-normalization pass, from the
    * same exact decimal moments as [[corrStats]]: one group-sized
    * aggregate joined back onto the rows (AQE broadcasts it — group
    * cardinality, never data), the final expression in identical IEEE
    * doubles on both engines. Appends `zscore` (round 6); single-row
    * or zero-variance groups hit the same division-by-zero on both
    * engines. */
  def zscore(df: DataFrame, groupCol: String, xCol: String): DataFrame = {
    val x = col(xCol).cast(DecimalType(18, 6))
    val n = col("_n"); val sx = col("_sx"); val sxx = col("_sxx")
    val moments = df.groupBy(groupCol)
      .agg(
        count(lit(1)).cast("double").as("_n"),
        sum(x).cast("double").as("_sx"),
        sum(x * x).cast("double").as("_sxx"))
    df.join(moments, groupCol)
      .withColumn("zscore",
        round((col(xCol) - sx / n) /
          sqrt((n * sxx - sx * sx) / (n * (n - lit(1.0)))), 6))
      .drop("_n", "_sx", "_sxx")
  }
}
