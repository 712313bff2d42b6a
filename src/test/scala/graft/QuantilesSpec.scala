package graft

import org.apache.spark.sql.functions._

import graft.operators.{Percentiles, Quantiles}

/** The r17 bucket-refinement selection core, hardened beyond its
  * q_mad/q_winsorize gate coverage: randomized parity against Spark's
  * builtin exact `percentile` across distribution shapes the stepping
  * logic must survive — near-unique continuous, low-cardinality
  * integer spikes, heavy repeated values, negatives, single-element
  * and all-null groups — plus the multi-target sharing and the
  * low-cardinality early exit (one bucket pass, not maxPasses). */
class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  private def parity(data: Seq[(String, java.lang.Double)],
                     ps: Seq[Double], tag: String): Unit = {
    val df = data.toDF("g", "x")
    val rows = df.select(col("g").as("_g"), col("x").cast("double").as("_v"))
    val seed = rows.groupBy("_g").agg(
        count(col("_v")).as("n1"), min("_v").as("lo"), max("_v").as("hi"))
      .collect()
      .map(r => Quantiles.Seed(r.get(0), r.getLong(1),
        if (r.isNullAt(2)) 0.0 else r.getDouble(2),
        if (r.isNullAt(3)) 0.0 else r.getDouble(3))).toSeq
    // tiny threshold forces MULTIPLE refine passes on these sizes —
    // the stepping, margin, and below-recount logic all exercise
    val got = Quantiles.refinedMulti(rows, ps, seed,
        buckets = 16, finalThreshold = 8)
      .map { case ((g, pi), v) => (g, pi) -> v }.toMap
    val expected: Map[(Any, Int), java.lang.Double] =
      ps.zipWithIndex.flatMap { case (p, pi) =>
        df.groupBy("g").agg(expr(s"percentile(x, $p)").as("e"))
          .collect()
          .map(r => ((r.get(0): Any, pi),
            if (r.isNullAt(1)) null
            else java.lang.Double.valueOf(r.getDouble(1))))
      }.toMap
    assert(got.keySet == expected.keySet, s"$tag: ${got.keySet} vs ${expected.keySet}")
    got.foreach { case (k, v) =>
      val e = expected(k)
      assert((v == null && e == null) ||
        (v != null && e != null && math.abs(v - e) <= math.abs(e) * 1e-12),
        s"$tag $k: refined $v vs builtin $e")
    }
  }

  test("randomized parity vs builtin percentile across distribution shapes") {
    val rnd = new scala.util.Random(42)
    val ps = Seq(0.0, 0.01, 0.25, 0.5, 0.9, 1.0)
    // near-unique continuous incl negatives
    parity((1 to 800).map(i =>
      (s"g${i % 3}", java.lang.Double.valueOf(rnd.nextGaussian() * 1e6))),
      ps, "gaussian")
    // low-cardinality integer spikes (the early-exit path)
    parity((1 to 900).map(i =>
      (s"g${i % 2}", java.lang.Double.valueOf((rnd.nextInt(7) + 1).toDouble))),
      ps, "spikes")
    // one heavy value drowning everything (90% identical)
    parity((1 to 1000).map(i => (s"g0", java.lang.Double.valueOf(
      if (i % 10 == 0) rnd.nextDouble() * 100 else 42.0))), ps, "heavy")
    // single-element and all-null groups next to a normal one
    parity(Seq(("solo", java.lang.Double.valueOf(3.14)),
      ("nulls", null), ("nulls", null)) ++
      (1 to 50).map(i => ("norm", java.lang.Double.valueOf(i.toDouble))),
      ps, "edges")
  }

  test("low-cardinality column resolves in ONE refine pass (early exit), not maxPasses") {
    val df = (1 to 5000).map(i => ("g", (i % 5 + 1).toDouble)).toDF("g", "x")
    val rows = df.select(col("g").as("_g"), col("x").as("_v"))
    val seed = Seq(Quantiles.Seed("g", 5000L, 1.0, 5.0))
    val t0 = System.nanoTime()
    val got = Quantiles.refined(rows, 0.5, seed,
      buckets = 2048, finalThreshold = 10)
    val secs = (System.nanoTime() - t0) / 1e9
    assert(got == Seq(("g", java.lang.Double.valueOf(3.0))), got.toString)
    // 16 grinding passes would take many seconds of driver jobs; the
    // occupied-bucket exit resolves in ~2 jobs
    assert(secs < 8.0, s"low-cardinality refinement took ${secs}s")
  }

  test("heavy-tailed data keeps refining: one outlier cannot force a corpus-sized final collect") {
    // r17 advice: the old occupied<=2 early-exit closed a target the
    // moment its rank window spanned ≤2 occupied buckets — but one
    // outlier at 1e9 stretches the seed range so the ENTIRE near-unique
    // bulk lands in bucket 0 on pass 1, and the "closed" final resolve
    // then collected near-corpus-sized distinct pairs to the driver.
    // Post-fix the close signal is the window's distinct ESTIMATE, so
    // refinement re-buckets the shrunken range and the final collect
    // stays threshold-bounded.
    val rnd = new scala.util.Random(7)
    val n = 20000
    val data = (1 to n).map(_ => ("g", rnd.nextDouble())) :+ (("g", 1e9))
    val df = data.toDF("g", "x")
    val rows = df.select(col("g").as("_g"), col("x").as("_v"))
    val seed = Seq(Quantiles.Seed("g", (n + 1).toLong, 0.0, 1e9))
    val threshold = 500L
    val (got, stats) = Quantiles.refinedMultiWithStats(rows, Seq(0.5), seed,
      buckets = 64, finalThreshold = threshold, maxPasses = 16)
    assert(stats.passes >= 2,
      s"heavy tail must not close on pass 1: $stats")
    assert(stats.finalCollected <= threshold * 2,
      s"final collect must stay threshold-bounded, got $stats")
    val expected = df.agg(expr("percentile(x, 0.5)")).head().getDouble(0)
    val v = got.head._2
    assert(math.abs(v - expected) <= math.abs(expected) * 1e-12,
      s"refined $v vs builtin $expected")
  }

  test("adaptive dispatch: near-unique columns refine, bounded-domain columns stay on the histogram") {
    // r17 verdict #2: q_percentile hardcoded the histogram plan — on a
    // near-unique column at scale that is corpus-linear wire. The
    // dispatcher probes per-group distinct estimates once and picks
    // per value column; pinned in BOTH directions with the threshold
    // forced between the two columns' cardinalities, values identical
    // to the plain histogram plan either way.
    val df = (1 to 4000).map(i =>
      (s"g${i % 2}", i * 0.6180339887 % 1000.0, (i % 7).toDouble))
      .toDF("g", "wide", "narrow")
    val specs = Seq(("w_med", "wide", 0.5), ("w_p9", "wide", 0.9),
      ("n_med", "narrow", 0.5))
    val expected = Percentiles.exactMulti(df, "g", specs)
      .orderBy("g").collect().map(_.toString).toSeq
    // threshold between narrow's ~7 and wide's ~4000 distinct values
    spark.conf.set(Percentiles.MaxHistogramDistinctConf, "100")
    try {
      val got = Percentiles.adaptiveExactMulti(df, "g", specs)
        .orderBy("g").collect().map(_.toString).toSeq
      assert(got == expected, s"$got vs $expected")
      assert(Percentiles.lastDispatch ==
        Map("wide" -> "refinement", "narrow" -> "histogram"),
        Percentiles.lastDispatch.toString)
      // threshold above both: everything stays on the histogram
      spark.conf.set(Percentiles.MaxHistogramDistinctConf, "1000000")
      val all = Percentiles.adaptiveExactMulti(df, "g", specs)
        .orderBy("g").collect().map(_.toString).toSeq
      assert(all == expected, s"$all vs $expected")
      assert(Percentiles.lastDispatch ==
        Map("wide" -> "histogram", "narrow" -> "histogram"),
        Percentiles.lastDispatch.toString)
      // threshold below both: everything refines
      spark.conf.set(Percentiles.MaxHistogramDistinctConf, "1")
      val ref = Percentiles.adaptiveExactMulti(df, "g", specs)
        .orderBy("g").collect().map(_.toString).toSeq
      assert(ref == expected, s"$ref vs $expected")
      assert(Percentiles.lastDispatch ==
        Map("wide" -> "refinement", "narrow" -> "refinement"),
        Percentiles.lastDispatch.toString)
    } finally spark.conf.unset(Percentiles.MaxHistogramDistinctConf)
  }

  test("refinedExactMulti ≡ exactMulti on a mixed-spec frame (same values bit-for-bit)") {
    val df = (1 to 2000).map(i =>
      (s"g${i % 4}", (i * 7919 % 997).toDouble, (i % 9).toDouble))
      .toDF("g", "a", "b")
    val specs = Seq(("a_med", "a", 0.5), ("a_p9", "a", 0.9),
      ("b_q1", "b", 0.25))
    val hist = Percentiles.exactMulti(df, "g", specs)
      .orderBy("g").collect().map(_.toString).toSeq
    val ref = Percentiles.refinedExactMulti(df, "g", specs)
      .orderBy("g").collect().map(_.toString).toSeq
    assert(hist == ref, s"$hist vs $ref")
  }
}
