package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact interpolated percentiles per group, rank-selection style.
  *
  * Spark's built-in `percentile` aggregate buffers a value→count
  * OpenHashMap per group inside the aggregation buffer: every partial
  * ships a map of all distinct values through the shuffle and the
  * final merge concentrates the whole group's value set on one
  * reducer — memory O(distinct values per group) on a single task,
  * which is exactly what dies first on a 100 TB fact table with few
  * groups.
  *
  * This operator computes the same number (linear interpolation at
  * rank p·(n-1), the reference semantics of `percentile` /
  * DuckDB `quantile_cont`) from a value histogram instead:
  *
  *   1. `groupBy(group, value).count()` — map-side combinable, the
  *      only corpus-sized shuffle, carrying (group, value, cnt) rows.
  *   2. per-group cumulative counts over the (much smaller) histogram
  *      via a window ordered by value.
  *   3. the value at rank r is the first histogram row with cum ≥ r —
  *      a `min(value) FILTER (cum ≥ r)` aggregate, one row per group.
  *
  * The residual window sorts only distinct values per group; for a
  * genuinely continuous column that is still the group's value set,
  * but as (value, cnt) pairs in a sort — no hashmap merge, spillable,
  * and the heavy counting already happened map-side. (For
  * pathological all-unique columns at extreme scale, quantize values
  * first or accept `percentile_approx`.)
  */
object Percentiles {

  /** One row per group: for each `(name, p)` in `ps`, a column `name`
    * holding the exact p-percentile of `valueCol`. Null values are
    * ignored and a group whose values are ALL null still appears with a
    * null result — both exactly like the built-in aggregate (the null
    * rows ride through the histogram with zero weight instead of being
    * filtered out, which would silently drop the group). */
  def exact(df: DataFrame, groupCol: String, valueCol: String,
            ps: Seq[(String, Double)]): DataFrame =
    exactFromHistogram(
      df.groupBy(col(groupCol), col(valueCol).cast("double").as("v"))
        .agg(count(lit(1)).as("cnt")),
      groupCol, ps)

  /** [[exactMulti]]'s answers through r17 bucket-refinement selection
    * ([[Quantiles]]) — the plan for NEAR-UNIQUE value columns, where
    * the histogram's sort-window is corpus-sized and corpus-shuffled
    * (105× the shuffled bytes at 10^8 rows, measured by
    * ScaleCheckQuantiles at commit 2375eab). Same values
    * bit-for-bit: identical `vLo + frac·(vHi−vLo)` interpolation at
    * `p·(n−1)+1` over the same data values.
    *
    * EAGER: the bounded refinement actions (seed + 1-2 bucket passes +
    * final resolve per value column, all quantiles of a column
    * sharing every pass) run at CONSTRUCTION — the q_mad/madOutliers
    * precedent; the returned frame is a group-sized literal that
    * broadcasts into whatever joins it. Callers composing lazy plans
    * (views, streaming) should use [[exactMulti]]. */
  def refinedExactMulti(df: DataFrame, groupCol: String,
                        specs: Seq[(String, String, Double)]): DataFrame = {
    val (_, valueMap) = refinedExactMultiValues(df, groupCol, specs)
    val gField = org.apache.spark.sql.types.StructField(
      "_g", df.schema(groupCol).dataType, nullable = true)
    Quantiles.litFrameMulti(df.sparkSession, gField, specs.map(_._1), valueMap)
      .withColumnRenamed("_mg", groupCol)
  }

  /** [[refinedExactMulti]]'s resolved statistics as DRIVER values —
    * (groups in first-seen order, group → one value per spec). For
    * callers that inline the group-sized result as literal expressions
    * (Quantiles.litChain) instead of joining a literal frame: same
    * bounded refinement passes, no frame, no broadcast join. */
  def refinedExactMultiValues(df: DataFrame, groupCol: String,
                              specs: Seq[(String, String, Double)])
      : (Seq[Any], Map[Any, Seq[java.lang.Double]]) = {
    require(specs.nonEmpty, "at least one (name, valueCol, p) spec required")
    val resolved = scala.collection.mutable.Map[(String, Any), java.lang.Double]()
    val groups = scala.collection.mutable.LinkedHashSet[Any]()
    specs.map(_._2).distinct.foreach { vc =>
      val sub = specs.filter(_._2 == vc)
      val rows = df.select(col(groupCol).as("_g"),
        col(s"`${vc.replace("`", "``")}`").cast("double").as("_v"))
      val seed = rows.groupBy("_g").agg(
          count(col("_v")).as("n1"), min("_v").as("lo"), max("_v").as("hi"))
        .collect()
        .map(r => Quantiles.Seed(r.get(0), r.getLong(1),
          if (r.isNullAt(2)) 0.0 else r.getDouble(2),
          if (r.isNullAt(3)) 0.0 else r.getDouble(3)))
        .toSeq
      seed.foreach(s => groups += s.g)
      Quantiles.refinedMulti(rows, sub.map(_._3), seed).foreach {
        case ((g, pi), v) => resolved((sub(pi)._1, g)) = v
      }
    }
    val valueMap: Map[Any, Seq[java.lang.Double]] = groups.toSeq.map { g =>
      (g, specs.map(sp =>
        resolved.getOrElse((sp._1, g), null: java.lang.Double)))
    }.toMap
    (groups.toSeq, valueMap)
  }

  /** Conf key for [[adaptiveExactMulti]]'s dispatch threshold: a value
    * column whose estimated TOTAL distinct count (summed per-group
    * estimates) exceeds this refines; below it the histogram plan
    * wins (several quantiles of a column share its one shuffle). */
  val MaxHistogramDistinctConf = "graft.quantiles.maxHistogramDistinct"
  val MaxHistogramDistinctDefault = 10000000L

  /** [[exactMulti]]'s answers behind a PLAN DISPATCHER (r17 verdict
    * #2): per value column, choose between the one-shuffle histogram
    * plan — optimal while the column's distinct count keeps the
    * sort-window small, and all of a column's quantiles share the one
    * shuffle — and bucket-refinement selection ([[Quantiles]]), whose
    * wire cost is ~flat at any corpus size and which therefore wins on
    * near-unique columns where the histogram IS the corpus
    * (105× the shuffled bytes at 10^8 rows, measured by
    * ScaleCheckQuantiles at commit 2375eab; at 100 TB the histogram
    * plan on such a column is corpus-linear shuffle).
    *
    * The decision input is ONE group-sized probe pass per call:
    * count/min/max per (group, column) — exactly the refinement seed,
    * REUSED when refinement wins, so the probe is free in that case —
    * plus a per-group approx_count_distinct. A column whose summed
    * estimate exceeds [[MaxHistogramDistinctConf]] (default 10^7)
    * refines; the rest stay on the histogram. Values are identical
    * either way (same interpolation at p·(n−1)+1 over the same data).
    * EAGER like [[refinedExactMulti]] (the probe collects group-sized
    * rows at construction); callers composing lazy plans use
    * [[exactMulti]]. */
  // per-session memo of the DISPATCH DECISION (per-column distinct
  // estimates), keyed by the analyzed plan's semantic hash — the
  // corpusCount-memo pattern: a repeat call over the same corpus whose
  // columns all dispatched to the histogram skips the probe scan
  // entirely. Only the decision caches, never the refinement seeds: a
  // stale hit (data rewritten under an identical plan in one session)
  // can pick the less-optimal plan, but values are computed fresh
  // either way — plan choice skew, never a wrong number. Weak session
  // keys: a dropped session takes its memo with it.
  private val dispatchMemos = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[org.apache.spark.sql.SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]]())
  private def dispatchMemo(spark: org.apache.spark.sql.SparkSession)
      : java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]] =
    dispatchMemos.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Map[String, Long]]())

  def adaptiveExactMulti(df: DataFrame, groupCol: String,
                         specs: Seq[(String, String, Double)]): DataFrame =
    adaptiveExactMultiWithDispatch(df, groupCol, specs)._1

  /** [[adaptiveExactMulti]] plus the plan this call took per value
    * column ("histogram" | "refinement"). Not part of the operator
    * contract. */
  private[graft] def adaptiveExactMultiWithDispatch(df: DataFrame,
      groupCol: String, specs: Seq[(String, String, Double)])
      : (DataFrame, Map[String, String]) = {
    require(specs.nonEmpty, "at least one (name, valueCol, p) spec required")
    val spark = df.sparkSession
    val maxDistinct = spark.conf.getOption(MaxHistogramDistinctConf)
      .map(_.toLong).getOrElse(MaxHistogramDistinctDefault)
    def q(n: String) = col(s"`${n.replace("`", "``")}`").cast("double")
    val vcols = specs.map(_._2).distinct
    val memoKey = scala.util.Try(
      df.queryExecution.analyzed.semanticHash().toString).getOrElse(
        java.util.UUID.randomUUID().toString) +
      "|" + groupCol + "|" + vcols.mkString(",") + "|" + maxDistinct
    val memo = dispatchMemo(spark)
    val memoHit = Option(memo.get(memoKey))
    memoHit.filter(_.valuesIterator.forall(_ <= maxDistinct)) match {
      case Some(_) =>
        // every column stays on the histogram: no seeds needed, the
        // probe is pure overhead — skip it
        return (exactMulti(df, groupCol, specs),
          vcols.map(_ -> "histogram").toMap)
      case None => ()
    }
    val probeAggs = vcols.zipWithIndex.flatMap { case (vc, i) =>
      Seq(count(q(vc)).as(s"n_$i"), min(q(vc)).as(s"lo_$i"),
        max(q(vc)).as(s"hi_$i"),
        approx_count_distinct(q(vc), 0.05).as(s"d_$i"))
    }
    val probe = df.groupBy(col(groupCol).as("_g"))
      .agg(probeAggs.head, probeAggs.tail: _*).collect().toSeq
    val seedsByCol: Map[String, Seq[Quantiles.Seed]] =
      vcols.zipWithIndex.map { case (vc, i) =>
        val base = 1 + i * 4
        vc -> probe.map(r => Quantiles.Seed(r.get(0), r.getLong(base),
          if (r.isNullAt(base + 1)) 0.0 else r.getDouble(base + 1),
          if (r.isNullAt(base + 2)) 0.0 else r.getDouble(base + 2)))
      }.toMap
    val distinctByCol: Map[String, Long] =
      vcols.zipWithIndex.map { case (vc, i) =>
        vc -> probe.iterator.map(_.getLong(1 + i * 4 + 3)).sum
      }.toMap
    memo.put(memoKey, distinctByCol)
    if (memo.size > 256) memo.clear() // bounded, advisory
    val (refCols, histCols) =
      vcols.partition(vc => distinctByCol(vc) > maxDistinct)
    val histFrame = if (histCols.isEmpty) None else Some(
      exactMulti(df, groupCol, specs.filter(s => histCols.contains(s._2))))
    val refFrame = if (refCols.isEmpty) None else Some {
      val gField = org.apache.spark.sql.types.StructField(
        "_g", df.schema(groupCol).dataType, nullable = true)
      val refSpecs = specs.filter(s => refCols.contains(s._2))
      val resolved =
        scala.collection.mutable.Map[(String, Any), java.lang.Double]()
      refCols.foreach { vc =>
        val sub = refSpecs.filter(_._2 == vc)
        val rows = df.select(col(groupCol).as("_g"), q(vc).as("_v"))
        Quantiles.refinedMulti(rows, sub.map(_._3), seedsByCol(vc)).foreach {
          case ((g, pi), v) => resolved((sub(pi)._1, g)) = v
        }
      }
      val groups = probe.map(_.get(0))
      val valueMap: Map[Any, Seq[java.lang.Double]] = groups.map { g =>
        (g, refSpecs.map(sp =>
          resolved.getOrElse((sp._1, g), null: java.lang.Double)))
      }.toMap
      Quantiles.litFrameMulti(spark, gField, refSpecs.map(_._1), valueMap)
        .withColumnRenamed("_mg", groupCol)
    }
    val joined = (histFrame.toSeq ++ refFrame.toSeq).reduce { (a, b) =>
      a.join(b.withColumnRenamed(groupCol, "__g"),
        col(groupCol) <=> col("__g")).drop("__g")
    }
    (joined.select(col(groupCol) +: specs.map(sp => col(sp._1)): _*),
      vcols.map(vc => vc ->
        (if (refCols.contains(vc)) "refinement" else "histogram")).toMap)
  }

  /** The rank-selection core over an ALREADY-BUILT value histogram —
    * (group, v, cnt) rows, `v` nullable. Exposed so derived statistics
    * (e.g. [[Stats.madOutliers]]'s absolute-deviation median) can
    * re-aggregate one corpus histogram instead of paying a second
    * corpus scan: a |v − median| histogram is HISTOGRAM-sized work,
    * the percentile machinery on top is identical. */
  private[operators] def exactFromHistogram(hist0: DataFrame, groupCol: String,
                                            ps: Seq[(String, Double)]): DataFrame = {
    val hist = hist0
      .withColumn("w", when(col("v").isNotNull, col("cnt")).otherwise(lit(0L)))
    val byVal = Window.partitionBy(groupCol).orderBy(col("v").asc_nulls_first)
    val all = Window.partitionBy(groupCol)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cum = hist
      .withColumn("cum", sum("w").over(byVal.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum("w").over(all))
    val aggs: Seq[Column] = ps.flatMap { case (name, p) =>
      // 1-based rank position of the p-percentile: pos = p*(n-1)+1;
      // interpolate between the values at floor(pos) and ceil(pos).
      // With n = 0 (all-null group) both rank lookups come up null and
      // the arithmetic propagates null — the built-in's answer.
      val pos = lit(p) * (col("n") - 1) + 1
      val lo = floor(pos)
      val hi = ceil(pos)
      val vLo = min(when(col("cum") >= lo && col("v").isNotNull, col("v")))
      val vHi = min(when(col("cum") >= hi && col("v").isNotNull, col("v")))
      val frac = max(pos - lo) // group-constant
      Seq((vLo + frac * (vHi - vLo)).as(name))
    }
    cum.groupBy(groupCol).agg(aggs.head, aggs.tail: _*)
  }

  /** Percentiles over SEVERAL value columns in one call: each spec is
    * (output name, value column, p). One histogram pass per distinct
    * value column, results joined on the group key — the join sides are
    * one row per group, so at scale this is a group-cardinality-sized
    * join (AQE broadcasts it when small), never a fact-sized one. The
    * join is null-safe so a null group key survives, matching the
    * single-aggregate form. */
  def exactMulti(df: DataFrame, groupCol: String,
                 specs: Seq[(String, String, Double)]): DataFrame = {
    require(specs.nonEmpty, "at least one (name, valueCol, p) spec required")
    val byValueCol = specs.groupBy(_._2)
    val parts = specs.map(_._2).distinct.map { vc =>
      exact(df, groupCol, vc, byValueCol(vc).map { case (n, _, p) => (n, p) })
    }
    val joined = parts.reduce { (a, b) =>
      a.join(b.withColumnRenamed(groupCol, "__g"), col(groupCol) <=> col("__g"))
        .drop("__g")
    }
    joined.select(col(groupCol) +: specs.map(sp => col(sp._1)): _*)
  }
}
