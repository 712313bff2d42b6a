package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Exact per-group quantiles by ITERATIVE BUCKET REFINEMENT — the
  * distributed selection algorithm for columns whose value domain is
  * too large for the (group, value)-histogram plan.
  *
  * [[Percentiles]]' histogram plan is exact and one-shuffle, but its
  * downstream sort-window is DISTINCT-VALUE-sized: on a mostly-unique
  * column (money amounts, timestamps) the histogram is the corpus and
  * the "cheap" window is a corpus sort. Refinement never sorts rows:
  *
  *  1. seed: per-group (count, min, max) — one aggregation pass;
  *  2. refine: bucket each target's value range into B equal-width
  *     buckets, count rows per (group, target, bucket) plus rows
  *     strictly below the range — one aggregation pass,
  *     group×target×B driver rows; keep only the buckets covering the
  *     target ranks (floor/ceil of the interpolation position),
  *     shrinking the range ~B× per pass;
  *  3. final: once a range holds ≤ threshold rows — or every occupied
  *     bucket in it is provably ATOMIC (the bucket's exact min equals
  *     its max: one distinct value, which no amount of further
  *     splitting can narrow, and which the DISTINCT resolve collapses
  *     to one row however many rows pile on it) — collect its
  *     DISTINCT (value, count) pairs and resolve the ranks exactly on
  *     the driver. Occupancy alone is NOT a close signal: a
  *     heavy-tail outlier parks the whole near-unique bulk in one
  *     bucket on pass 1, and the next pass re-buckets the shrunken
  *     range into B fresh buckets and splits it fine.
  *
  * A near-unique 10^12-row column resolves in seed + 1-2 refine
  * passes + final — every pass a map-side-combinable aggregation over
  * a column-pruned scan, shuffling one row per (group, target,
  * bucket): ~FLAT wire cost at any corpus size, vs the histogram
  * plan's corpus-linear shuffle (105× fewer shuffled bytes at 10^8
  * near-unique rows, measured by ScaleCheckQuantiles at commit
  * 2375eab). Several quantiles of one column share every pass (rows
  * fan out per live target in-plan).
  * The below-range count is RECOMPUTED with exact value comparisons
  * every pass, so float fuzz at bucket edges can never corrupt a rank
  * (the next range gets a one-bucket safety margin on each side
  * instead).
  *
  * Driver state: group × target × B longs per pass (the bounded
  * driver hop family: Sampling's per-stratum counts, Packing's
  * per-partition subtotals). Interpolation is the same expression the
  * histogram plan (and DuckDB's quantile_cont) evaluates:
  * `vLo + frac · (vHi − vLo)` at position `p·(n−1)+1`. */
object Quantiles {

  /** Per-group seed: non-null count and closed value range. A caller
    * that already knows bounds (|v − med| ∈ [0, spread]) passes them
    * directly and skips the seed pass. */
  final case class Seed(g: Any, n1: Long, lo: Double, hi: Double)

  /** Diagnostics of one refinement — observability for the close
    * condition (passes taken, rows the final resolve collected),
    * returned next to the result by [[refinedMultiWithStats]]. Not
    * part of the operator contract. */
  final case class RefineStats(passes: Int, finalCollected: Long)

  /** Largest open-target count the refine passes inline as a literal
    * when-chain (vs the broadcast state join): plans stay small and the
    * per-pass broadcast-build job disappears for the common few-group
    * case, while a 10^4-group call keeps the join. */
  val InlineStateMax = 64

  private final case class St(g: Any, pi: Int, n1: Long,
                              rlo: Double, rhi: Double,
                              posF: Long, posC: Long, frac: Double)

  /** The quantile `p` of `rows` (columns `_g`, `_v` double) per group,
    * as (group value, quantile-or-null). Null for all-null groups —
    * the built-in aggregate's answer. */
  def refined(rows: DataFrame, p: Double, seed: Seq[Seed],
              buckets: Int = 2048, finalThreshold: Long = 20000,
              maxPasses: Int = 16): Seq[(Any, java.lang.Double)] =
    refinedMulti(rows, Seq(p), seed, buckets, finalThreshold, maxPasses)
      .map { case ((g, _), v) => (g, v) }

  /** Several quantiles of the SAME value column in shared passes:
    * one result per (group, index into `ps`). */
  def refinedMulti(rows: DataFrame, ps: Seq[Double], seed: Seq[Seed],
                   buckets: Int = 2048, finalThreshold: Long = 20000,
                   maxPasses: Int = 16): Seq[((Any, Int), java.lang.Double)] =
    refinedMultiWithStats(rows, ps, seed, buckets, finalThreshold,
      maxPasses)._1

  /** [[refinedMulti]] plus the [[RefineStats]] of this call. */
  private[graft] def refinedMultiWithStats(
      rows: DataFrame, ps: Seq[Double], seed: Seq[Seed], buckets: Int,
      finalThreshold: Long, maxPasses: Int)
      : (Seq[((Any, Int), java.lang.Double)], RefineStats) = {
    require(ps.nonEmpty, "Quantiles.refinedMulti: at least one quantile")
    val out = scala.collection.mutable.ArrayBuffer[((Any, Int), java.lang.Double)]()
    var open = Seq.empty[St]
    seed.foreach { s =>
      ps.zipWithIndex.foreach { case (p, pi) =>
        if (s.n1 <= 0) out += (((s.g, pi), null))
        else {
          val pos = p * (s.n1 - 1) + 1 // 1-based interpolation position
          open :+= St(s.g, pi, s.n1, s.lo, s.hi,
            math.floor(pos).toLong, math.ceil(pos).toLong,
            pos - math.floor(pos))
        }
      }
    }
    val spark = rows.sparkSession
    val gField = StructField("_sg", rows.schema("_g").dataType,
      nullable = true)
    def stateDf(st: Seq[St]): DataFrame =
      broadcast(spark.createDataFrame(
        spark.sparkContext.parallelize(
          st.map(s => Row(s.g, s.pi, s.rlo, s.rhi)), 1),
        StructType(Seq(gField,
          StructField("_pi", org.apache.spark.sql.types.IntegerType,
            nullable = false),
          StructField("_rlo", DoubleType, nullable = false),
          StructField("_rhi", DoubleType, nullable = false)))))
    // Fan-out to live targets as a LITERAL when-chain + explode instead
    // of a broadcast-joined state frame: the state is driver-resolved
    // and tiny, but a per-pass broadcast frame costs a parallelize
    // materialization plus a BroadcastExchange build job under AQE —
    // per REFINEMENT PASS, on a loop whose whole cost at bench scale is
    // driver-synchronized job overhead (guide §5). The when-chain is
    // null-safe (<=>), total over the seeded groups, and drops rows of
    // unseeded groups exactly like the inner state join did. Bounded:
    // past `InlineStateMax` entries (or a group value lit() cannot
    // encode) the broadcast join stays — plan choice only, the
    // aggregated rows and arithmetic are identical either way.
    def stateCol(st: Seq[St]): Option[org.apache.spark.sql.Column] =
      if (st.size > InlineStateMax) None
      else scala.util.Try {
        val byG = st.groupBy(_.g).toSeq
        val structType = "array<struct<_pi:int,_rlo:double,_rhi:double>>"
        byG.foldLeft(lit(null).cast(structType)) { case (acc, (g, sts)) =>
          val arr = array(sts.map(s => struct(lit(s.pi).as("_pi"),
            lit(s.rlo).as("_rlo"), lit(s.rhi).as("_rhi"))): _*)
          when(col("_g") <=> lit(g), arr).otherwise(acc)
        }
      }.toOption
    def fanned(st: Seq[St]): DataFrame = {
      val base = rows.filter(col("_v").isNotNull)
      stateCol(st) match {
        case Some(c) =>
          base.select(col("_g"), col("_v"), explode(c).as("_st"))
            .select(col("_g"), col("_v"), col("_st._pi").as("_pi"),
              col("_st._rlo").as("_rlo"), col("_st._rhi").as("_rhi"))
        case None => base.join(stateDf(st), col("_g") <=> col("_sg"))
      }
    }

    // refine passes: shrink every open target's range ~B× per pass
    // until its candidate count fits the final collect. The state
    // join fans each row out to the group's LIVE targets only.
    var passes = 0
    var ready = Seq.empty[St]
    while (open.nonEmpty && passes < maxPasses) {
      passes += 1
      val width = (col("_rhi") - col("_rlo")) / lit(buckets.toDouble)
      val idx = when(col("_v") < col("_rlo"), lit(-1.0))
        .when(col("_v") > col("_rhi"), lit(buckets.toDouble))
        .when(width === 0.0, lit(0.0))
        .otherwise(least(greatest(
          floor((col("_v") - col("_rlo")) / width), lit(0.0)),
          lit((buckets - 1).toDouble)))
      val counts = fanned(open)
        .groupBy(col("_g").as("g"), col("_pi"), idx.as("b"))
        // per-bucket count plus the bucket's exact value range: a
        // bucket with mn == mx holds ONE distinct value, the exact
        // cannot-split-further signal the close condition needs — at
        // 16 bytes per partial row, where a distinct SKETCH per bucket
        // was measured to 10× the refinement loop's whole wire cost
        .agg(count(lit(1)).as("c"), min(col("_v")).as("mn"),
          max(col("_v")).as("mx"))
        .collect()
        .map(r => ((r.get(0), r.getInt(1)), r.getDouble(2).toInt,
          (r.getLong(3), r.getDouble(4), r.getDouble(5))))
        .groupBy(_._1).map { case (k, rs) =>
          k -> rs.map { case (_, b, cmm) => b -> cmm }.toMap }
      val stepped = open.map { s =>
        val byBucket =
          counts.getOrElse((s.g, s.pi), Map.empty[Int, (Long, Double, Double)])
        val below = byBucket.get(-1).map(_._1).getOrElse(0L)
        // cumulative walk to the buckets holding ranks posF and posC
        var cum = below
        var iLo = -1; var iHi = -1
        var i = 0
        while (i < buckets && (iLo < 0 || iHi < 0)) {
          cum += byBucket.get(i).map(_._1).getOrElse(0L)
          if (iLo < 0 && cum >= s.posF) iLo = i
          if (iHi < 0 && cum >= s.posC) iHi = i
          i += 1
        }
        if (iLo < 0) iLo = buckets - 1 // guard: rank past counted mass
        if (iHi < 0) iHi = buckets - 1
        val w = (s.rhi - s.rlo) / buckets
        // one-bucket safety margin absorbs float fuzz at the edges;
        // the below-count is recomputed exactly against the new rlo
        // next pass, so the margin costs candidates, never correctness
        val nLo = math.max(s.rlo, s.rlo + (iLo - 1) * w)
        val nHi = math.min(s.rhi, s.rlo + (iHi + 2) * w)
        val window = math.max(0, iLo - 1) to math.min(buckets - 1, iHi + 1)
        val candidates =
          window.map(b => byBucket.get(b).map(_._1).getOrElse(0L)).sum
        // the window is EXHAUSTED — refining provably cannot narrow it
        // further — when every occupied bucket holds a single distinct
        // value (its exact min == max): the final DISTINCT resolve then
        // collects ≤ |window| rows however many ROWS pile on them, so a
        // billion-row one-value spike closes on pass 1. Low OCCUPANCY
        // alone never closes (the r17 advice's counterexample: one
        // outlier stretches the seed range so the whole near-unique
        // bulk parks in bucket 0 — the next pass re-buckets the
        // shrunken range into B fresh buckets and splits it fine), so
        // an open target keeps refining until its window rows fit the
        // final collect or its buckets are provably atomic.
        val exhausted = window.forall(b =>
          byBucket.get(b).forall { case (_, mn, mx) => mn == mx })
        val shrunk = nHi - nLo < s.rhi - s.rlo
        val keepOpen = candidates > finalThreshold && !exhausted &&
          w > 0 && shrunk && java.lang.Double.isFinite(w)
        (s.copy(rlo = nLo, rhi = nHi), keepOpen)
      }
      open = stepped.filter(_._2).map(_._1)
      ready ++= stepped.filterNot(_._2).map(_._1)
    }
    ready ++= open // maxPasses hit: resolve whatever range remains

    var finalCollected = 0L
    // final pass: collect the surviving ranges' distinct values (plus
    // the exact below-range count) and resolve ranks on the driver
    if (ready.nonEmpty) {
      val flag = when(col("_v") < col("_rlo"), lit(-1))
        .when(col("_v") > col("_rhi"), lit(1)).otherwise(lit(0))
      val collected = fanned(ready)
        .filter(flag <= 0)
        .groupBy(col("_g").as("g"), col("_pi"), flag.as("f"),
          when(flag === 0, col("_v")).as("v"))
        .agg(count(lit(1)).as("c"))
        .collect()
      finalCollected = collected.length.toLong
      val byKey = collected.groupBy(r => (r.get(0), r.getInt(1)))
      ready.foreach { s =>
        val rs = byKey.getOrElse((s.g, s.pi), Array.empty[Row])
        val below = rs.filter(_.getInt(2) == -1).map(_.getLong(4)).sum
        val vals = rs.filter(_.getInt(2) == 0)
          .map(r => (r.getDouble(3), r.getLong(4))).sortBy(_._1)
        require(vals.nonEmpty,
          s"Quantiles.refined: empty candidate range for group ${s.g} " +
            s"[${s.rlo}, ${s.rhi}] ranks ${s.posF}/${s.posC} — rank " +
            "bookkeeping drifted (refuse loudly, never interpolate a guess)")
        def valueAt(rank: Long): Double = {
          var cum = below
          var i = 0
          while (i < vals.length) {
            cum += vals(i)._2
            if (cum >= rank) return vals(i)._1
            i += 1
          }
          vals.last._1
        }
        val vLo = valueAt(s.posF)
        val vHi = valueAt(s.posC)
        out += (((s.g, s.pi), vLo + s.frac * (vHi - vLo)))
      }
    }
    (out.toSeq, RefineStats(passes, finalCollected))
  }

  /** Driver-resolved (group → statistic) as a literal when-chain
    * COLUMN — the join-free way to attach a tiny resolved map back
    * into a plan (no literal-frame parallelize job, no
    * BroadcastExchange build per reference; guide §5). `nullSafe`
    * picks the group-compare semantics the replaced join had (<=> vs
    * =). Groups absent from `values` yield null — callers replacing
    * an INNER join must either know the chain is total over their
    * rows' groups (the seed-derived case) or filter. None past
    * [[InlineStateMax]] or for group values `lit` cannot encode —
    * fall back to [[litFrame]] + join. */
  def litChain(groupCol: org.apache.spark.sql.Column,
               values: Seq[(Any, java.lang.Double)],
               nullSafe: Boolean = true): Option[org.apache.spark.sql.Column] =
    if (values.size > InlineStateMax) None
    else scala.util.Try {
      values.foldLeft(lit(null).cast(DoubleType)) { case (acc, (g, v)) =>
        val cond = if (nullSafe) groupCol <=> lit(g) else groupCol === lit(g)
        when(cond,
          if (v == null) lit(null).cast(DoubleType)
          else lit(v.doubleValue())).otherwise(acc)
      }
    }.toOption

  /** Tiny literal frame (group value, double) for broadcasting a
    * driver-resolved statistic back into a plan. */
  def litFrame(spark: SparkSession, gField: StructField,
               values: Seq[(Any, java.lang.Double)],
               name: String): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        values.map { case (g, v) => Row(g, v) }, 1),
      StructType(Seq(gField.copy(name = "_mg"),
        StructField(name, DoubleType, nullable = true))))

  /** Tiny literal frame (group value, several doubles) — the
    * multi-statistic broadcast shape. */
  def litFrameMulti(spark: SparkSession, gField: StructField,
                    names: Seq[String],
                    values: Map[Any, Seq[java.lang.Double]]): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        values.toSeq.map { case (g, vs) => Row((g +: vs): _*) }, 1),
      StructType(gField.copy(name = "_mg") +:
        names.map(n => StructField(n, DoubleType, nullable = true))))
}
