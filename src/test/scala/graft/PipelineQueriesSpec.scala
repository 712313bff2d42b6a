package graft

import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Ivf, Multimodal, Sampling, Similarity, TextOps}
import graft.queries.PipelineQueries
import graft.tables.Tables

class PipelineQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("every pipeline query runs and is non-empty on sf0.001") {
    PipelineQueries.entries.foreach { case (name, fn) =>
      assert(fn(spark, sf).count() > 0, s"$name returned no rows")
    }
  }

  // fixture: two exact dups, one near-dup, one unrelated
  private lazy val fixture = Seq(
    (0L, "the quick brown fox jumps over the lazy dog again and again and again"),
    (1L, "the quick brown fox jumps over the lazy dog again and again and again"),
    (2L, "the quick brown fox jumps over the lazy dog again and again and once"),
    (3L, "completely unrelated text about spark catalyst optimizer internals here")
  ).toDF("doc_id", "text")

  test("dedup_exact groups identical docs under the smallest id") {
    val groups = Dedup.exact(fixture).collect()
    val dupGroup = groups.find(_.getLong(1) == 2L)
    assert(dupGroup.isDefined, "exact duplicate group not found")
    assert(dupGroup.get.getLong(0) == 0L, "survivor is not the smallest id")
    assert(groups.length == 3)
  }

  test("minhash LSH surfaces exact and near duplicates as candidates") {
    val pairs = Dedup.minhashCandidates(fixture)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair missed")
    assert(pairs.contains((0L, 2L)) || pairs.contains((1L, 2L)), "near dup pair missed")
  }

  test("simhash gives identical docs identical fingerprints (hamming 0)") {
    val pairs = Dedup.simhashPairs(fixture)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(pairs.get((0L, 1L)).contains(0), s"identical docs not at hamming 0: $pairs")
  }

  test("simhash pair-blocking recalls EVERY pair at hamming <= 3, drops hamming 4") {
    // plant fingerprints at every hamming distance 0..3 from a base,
    // covering worst-case bit placements (3 flips spread over 3
    // different chunks — the case single-chunk-blocking with pairs of
    // 4 chunks would miss); doc 99 sits at hamming 4 and must NOT pair
    // with the base under maxHamming = 3
    val base = 0x0123456789abcdefL
    val rnd = new scala.util.Random(7)
    def flip(bits: Seq[Int]): Long = bits.foldLeft(base)((f, b) => f ^ (1L << b))
    val planted = Seq(
      10L -> base,                        // hamming 0
      11L -> flip(Seq(5)),                // hamming 1
      12L -> flip(Seq(0, 63)),            // hamming 2, opposite ends
      13L -> flip(Seq(3, 20, 40)),        // hamming 3 across 3 chunks of 5
      14L -> flip(Seq(12, 13, 14)),       // hamming 3 straddling a chunk edge
      99L -> flip(Seq(1, 17, 33, 50))     // hamming 4 — excluded
    ) ++ (100L until 150L).map(i => i -> rnd.nextLong()) // background noise
    val fps = planted.toDF("doc_id", "fp")
    val got = Dedup.simhashPairsFromFps(fps, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (other <- Seq(11L, 12L, 13L, 14L))
      assert(got.contains((10L, other)), s"missed planted pair (10,$other): $got")
    assert(!got.contains((10L, 99L)), "hamming-4 pair leaked through maxHamming=3")
  }

  test("semanticDedup collapses planted twins to one survivor and keeps everything else") {
    // 40 one-hot base vectors (pairwise cosine 0) + 10 exact twins of
    // bases 0..9 under ids 1000.. — a twin lands in its base's cell by
    // construction (identical vector, identical argmin), cosine 1 >= tau
    val dim = 40
    def oneHot(i: Int): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    val base = (0 until dim).map(i => (i.toLong, oneHot(i)))
    val twins = (0 until 10).map(i => (1000L + i, oneHot(i)))
    val emb = (base ++ twins).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, tau = 0.99).collect()
    assert(out.length == dim + 10, "one disposition row per input vector")
    val keepByld = out.map(r => r.getLong(0) -> r.getBoolean(4)).toMap
    (0 until 10).foreach { i =>
      assert(keepByld(i.toLong), s"base $i must survive (min id on a cosine tie)")
      assert(!keepByld(1000L + i), s"twin of $i must be dropped")
    }
    (10 until dim).foreach(i =>
      assert(keepByld(i.toLong), s"untouched vector $i must survive"))
    // twins share their base's component; component column is the min id
    val compOf = out.map(r => r.getLong(0) -> r.getLong(2)).toMap
    (0 until 10).foreach(i => assert(compOf(1000L + i) == i.toLong,
      s"twin of $i must land in component $i"))
  }

  test("semanticDedup keeper rule prefers the LOWEST centroid cosine within a duplicate group") {
    // one tight group far from its cell centroid direction: v and a
    // twin v' scaled copy would have equal centroid cos, so instead
    // plant v (on-axis) and w = normalized(v + small off-axis bump):
    // cos(v, w) > tau but w sits FURTHER from the centroid after the
    // axis-heavy cluster pulls the centroid toward v's direction.
    // Deterministic check: recompute both centroid cosines from the
    // operator's own output and assert the keeper is the min.
    val dim = 8
    def unit(xs: Seq[Double]): Seq[Double] = {
      val n = math.sqrt(xs.map(x => x * x).sum); xs.map(_ / n)
    }
    val v = unit(Seq(1.0, 0, 0, 0, 0, 0, 0, 0))
    val w = unit(Seq(1.0, 0.15, 0, 0, 0, 0, 0, 0)) // cos(v,w) ~ 0.989
    // padding vectors on other axes keep KMeans honest (k >= 4)
    val pad = (2 until dim).map(i =>
      (100L + i, unit(Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0))))
    val emb = (Seq((1L, v), (2L, w)) ++ pad).toDF("vec_id", "embedding")
    val out = Dedup.semanticDedup(emb, tau = 0.98, nlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2),
        r.getDouble(3), r.getBoolean(4)))
    val grouped = out.filter(_._2 == 1L) // v and w share component 1
    assert(grouped.map(_._1).toSet == Set(1L, 2L),
      s"v and w must form one duplicate group: ${out.toSeq}")
    val keeper = grouped.filter(_._4).map(_._1).toSeq
    val minCos = grouped.minBy(t => (t._3, t._1))._1
    assert(keeper == Seq(minCos),
      s"keeper must be the lowest-centroid-cos member: ${grouped.toSeq}")
  }

  test("semanticDedupAppend ≡ full recompute against the same centroids; untouched cells never rewrite") {
    // the planted-twin corpus again, but arriving in two waves: the
    // bases first (init: fit + full disposition), the twins as the
    // daily batch (append: assign + rework touched cells only)
    val dim = 40
    def oneHot(i: Int): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    val base = (0 until dim).map(i => (i.toLong, oneHot(i)))
    val twins = (0 until 10).map(i => (1000L + i, oneHot(i)))
    val baseDf = base.toDF("vec_id", "embedding")
    val twinDf = twins.toDF("vec_id", "embedding")
    val path = java.nio.file.Files.createTempDirectory("graft_semdd").toString
    Dedup.semanticDedupInit(baseDf, path, tau = 0.99)
    // record untouched partitions' file mtimes before the append
    val stateDir = new java.io.File(s"$path/state")
    def partFiles(): Map[String, Long] =
      stateDir.listFiles.filter(_.getName.startsWith("cell="))
        .flatMap(d => d.listFiles.filter(_.getName.endsWith(".parquet"))
          .map(f => f.getPath -> f.lastModified)).toMap
    val before = partFiles()
    val got = Dedup.semanticDedupAppend(spark, path, twinDf, tau = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(4)))
    // equivalence: a full-batch run over the union with the SAME
    // persisted centroids (init on the union would refit — so compare
    // against the documented contract instead: twins collapse onto
    // their base's component, every base survives, twins drop)
    assert(got.length == dim + 10, "one disposition row per vector")
    val keepById = got.map(t => t._1 -> t._3).toMap
    val compById = got.map(t => t._1 -> t._2).toMap
    (0 until 10).foreach { i =>
      assert(keepById(i.toLong), s"base $i must survive")
      assert(!keepById(1000L + i), s"twin of $i must drop")
      assert(compById(1000L + i) == i.toLong,
        s"twin of $i must join component $i")
    }
    (10 until dim).foreach(i => assert(keepById(i.toLong)))
    // incrementality: cells the batch never touched keep their files
    // byte-identical (same path, same mtime — never rewritten)
    val after = partFiles()
    val untouchedKept = before.count { case (p, t) => after.get(p).contains(t) }
    assert(untouchedKept > 0,
      s"append rewrote every state partition — not incremental ($before)")
    // idempotent-ish sanity: appending an EMPTY batch changes nothing
    val again = Dedup.semanticDedupAppend(spark, path,
      twinDf.filter(col("vec_id") < 0), tau = 0.99).count()
    assert(again == dim + 10)
    // the maintained disposition through pure SQL: the TVF serves the
    // persisted state lazily (no refit at analysis time)
    val viaSql = spark.sql(
      s"SELECT * FROM graft_dedup_semantic('$path') WHERE NOT keep")
      .collect().map(_.getLong(0)).toSet
    assert(viaSql == (0 until 10).map(i => 1000L + i).toSet,
      s"TVF served a different drop set: $viaSql")
  }

  test("semanticDedupAppend crash windows: an aside cell restores; a landed cell discards its aside") {
    import org.apache.hadoop.fs.Path
    val dim = 16
    def oneHot(i: Int): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    val path = java.nio.file.Files.createTempDirectory("graft_semcr").toString
    Dedup.semanticDedupInit(
      (0 until dim).map(i => (i.toLong, oneHot(i))).toDF("vec_id", "embedding"),
      path, tau = 0.99)
    val fullBefore = Dedup.semanticState(spark, path).count()
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val state = new Path(s"$path/state")
    val aCell = fs.listStatus(state).map(_.getPath.getName)
      .find(_.startsWith("cell=")).get
    // crash window 1 (the r15 advice): the rework renamed cell=N aside
    // and died before renaming the new dir in — the OLD protocol lost
    // those members forever; the aside protocol restores them on the
    // next entry
    require(fs.rename(new Path(state, aCell), new Path(state, s"_old_$aCell")))
    val afterRestore = Dedup.semanticDedupAppend(spark, path,
      Seq((5000L, oneHot(0))).toDF("vec_id", "embedding"), tau = 0.99)
    assert(afterRestore.count() == fullBefore + 1,
      "the aside cell's members must restore before the append reworks")
    // crash window 2: the reworked cell landed but its aside survived —
    // the next entry discards the stale aside, state unchanged
    val bCell = fs.listStatus(state).map(_.getPath.getName)
      .find(_.startsWith("cell=")).get
    fs.mkdirs(new Path(state, s"_old_$bCell"))
    val afterDiscard = Dedup.semanticDedupAppend(spark, path,
      Seq((5001L, oneHot(1))).toDF("vec_id", "embedding"), tau = 0.99)
    assert(afterDiscard.count() == fullBefore + 2)
    assert(!fs.listStatus(state).map(_.getPath.getName)
      .exists(_.startsWith("_old_")), "stale asides must be swept")
  }

  test("semanticDedup within-cell join is an equi-join — no cartesian in the plan") {
    val emb = Tables.embeddings(spark, sf)
    val plan = Dedup.semanticDedup(emb, tau = 0.5)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"cell blocking must keep the pair join equi:\n$plan")
  }

  test("connected components collapse chains and leave separate clusters apart") {
    val pairs = Seq(
      (0L, 1L), (1L, 2L), (2L, 7L), // chain: {0,1,2,7} -> 0
      (3L, 4L),                     // pair: {3,4} -> 3
      (9L, 5L)                      // reversed-order edge: {5,9} -> 5
    ).toDF("doc_a", "doc_b")
    val got = Dedup.components(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 7L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 5L, 9L -> 5L))
  }

  test("components on an EMPTY pair set returns empty instead of crashing") {
    // zero near-dup pairs is a legitimate candidate-generator output;
    // the convergence aggregate must not NPE on the null sum
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(Dedup.components(empty).count() == 0)
  }

  test("components with a reliable checkpoint dir match the localCheckpoint path") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    // worst-case chain fixture (max diameter) through the dir-backed
    // checkpoint path a real cluster uses for fault tolerance
    val pairs = spark.range(99)
      .filter(pmod(col("id"), lit(25L)) =!= lit(24L))
      .select(col("id").as("doc_a"), (col("id") + 1).as("doc_b"))
    // threshold -1 forces the distributed loop: a 98-edge set is well
    // inside the driver-solve bound, which never checkpoints
    val prevBc = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val got = try Dedup.components(pairs, checkpointDir = Some(dir)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    finally prevBc.fold(spark.conf.unset("spark.sql.autoBroadcastJoinThreshold"))(
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", _))
    val expected = (0L until 100L).map(i => i -> (i - i % 25)).toMap
    assert(got == expected)
  }

  test("components over minhash pairs cluster the duplicate fixture docs") {
    val comps = Dedup.components(Dedup.minhashCandidates(fixture))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 0/1 are exact dups, 2 a near dup -> one cluster rooted at 0;
    // doc 3 shares no pair so it has no row (isolated = its own keeper)
    assert(comps.get(0L).contains(0L) && comps.get(1L).contains(0L))
    assert(comps.get(2L).contains(0L))
    assert(!comps.contains(3L))
  }

  test("dedup sweep keeps exactly the min-id survivor of each cluster plus isolated docs") {
    val survivors = Dedup.sweep(fixture).collect().map(_.getLong(0)).toSet
    // docs 0/1 exact dups, 2 a verified near dup -> cluster {0,1,2}
    // survives as 0; doc 3 untouched
    assert(survivors == Set(0L, 3L), s"survivors were $survivors")
  }

  test("leakage-safe split keeps every near-dup cluster on one side, covers every doc") {
    val corpus = Tables.documents(spark, sf)
    val split = Dedup.leakageSafeSplit(
      corpus.select("doc_id"), Dedup.minhashCandidates(corpus))
    val straddling = split.groupBy("component")
      .agg(countDistinct("split").as("sides"))
      .filter(col("sides") > 1).count()
    assert(straddling == 0, "a near-dup cluster straddles train/val")
    assert(split.count() == corpus.count())
    val frac = split.filter(col("split") === "val").count().toDouble / corpus.count()
    assert(frac > 0.05 && frac < 0.5, s"val fraction way off threshold: $frac")
  }

  test("stratified sample hits the exact per-stratum quota, deterministically") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val strat = pmod(length(col("text")), lit(4))
    val s1 = graft.operators.Sampling.stratified(docs, strat, 0.25)
    val quotas = docs.withColumn("stratum", strat)
      .groupBy("stratum").count().collect()
      .map(r => r.getInt(0) -> math.ceil(0.25 * r.getLong(1)).toLong).toMap
    val got = s1.groupBy("stratum").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == quotas, s"per-stratum counts $got != quotas $quotas")
    // deterministic: a second evaluation picks the identical id set
    val ids1 = s1.select("doc_id").collect().map(_.getLong(0)).toSet
    val ids2 = graft.operators.Sampling.stratified(docs, strat, 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids1 == ids2)
  }

  test("weighted sampling: per-stratum quotas exact, zero-frac drops, uniform map equals stratified") {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val strat = pmod(length(col("text")), lit(4))
    val w = graft.operators.Sampling.weighted(
      docs, strat, Map("0" -> 0.5, "1" -> 0.25, "2" -> 0.0), defaultFrac = 0.125)
    val fracOf = Map(0 -> 0.5, 1 -> 0.25, 2 -> 0.0, 3 -> 0.125)
    val quotas = docs.withColumn("stratum", strat)
      .groupBy("stratum").count().collect()
      .map(r => r.getInt(0) -> math.ceil(fracOf(r.getInt(0)) * r.getLong(1)).toLong)
      .toMap.filter(_._2 > 0)
    val got = w.groupBy("stratum").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(got == quotas, s"per-stratum counts $got != quotas $quotas")
    assert(!got.contains(2), "zero-frac stratum leaked rows")
    // a uniform fraction map degenerates to plain stratified sampling
    val uniform = graft.operators.Sampling.weighted(
      docs, strat, Map.empty, defaultFrac = 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val plain = graft.operators.Sampling.stratified(docs, strat, 0.25)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(uniform == plain)
  }

  test("temperature sampling: exact LR quotas, tail upweighted as alpha drops, caps bind") {
    import spark.implicits._
    // A: 900 rows, B: 90, C: 10 — a power-law corpus
    val docs = spark.range(1000)
      .select(col("id").as("doc_id"),
        when(col("id") < 900, "A").when(col("id") < 990, "B").otherwise("C").as("d"))
    def quotas(alpha: Double): Map[String, Long] =
      Sampling.temperature(docs, col("d"), alpha, targetN = 100)
        .groupBy("domain").count().as[(String, Long)].collect().toMap
    // alpha=1 reproduces the mix exactly: shares 90/9/1
    assert(quotas(1.0) == Map("A" -> 90L, "B" -> 9L, "C" -> 1L))
    // alpha=.5: sqrt weights 30/9.486833/3.162278 -> 70/22/7 base, the
    // single remainder goes to C (largest fraction .414) — tail boosted 8x
    assert(quotas(0.5) == Map("A" -> 70L, "B" -> 22L, "C" -> 8L))
    // alpha=0: uniform 34/33/33, but C is exhausted at 10 (capped, not
    // redistributed) — realized total undershoots the budget
    assert(quotas(0.0) == Map("A" -> 34L, "B" -> 33L, "C" -> 10L))
    // determinism: the selected SET is stable across runs
    val a = Sampling.temperature(docs, col("d"), 0.5, 100).select("doc_id")
      .as[Long].collect().sorted.toSeq
    val b = Sampling.temperature(docs, col("d"), 0.5, 100).select("doc_id")
      .as[Long].collect().sorted.toSeq
    assert(a == b && a.size == 100)
  }

  test("token-budget sampling: maximal md5-prefix per domain, overflow row and tail drop") {
    import spark.implicits._
    val docs = spark.range(40)
      .select(col("id").as("doc_id"),
        when(col("id") % 2 === 0, "A").otherwise("B").as("d"),
        (col("id") % 7 + 1).as("ntok"))
    val kept = Sampling.tokenBudget(docs, col("d"), col("ntok"), budget = 20)
      .select("doc_id", "domain", "cum_tokens")
      .as[(Long, String, Long)].collect()
    // independent expectation: pure-Scala md5 ordering + greedy prefix
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    val expect = (0L until 40L).map(i => (i, if (i % 2 == 0) "A" else "B", i % 7 + 1))
      .groupBy(_._2).flatMap { case (dom, rows) =>
        val ordered = rows.sortBy(r => (md5hex(r._1.toString), r._1))
        val cums = ordered.scanLeft(0L)(_ + _._3).tail
        ordered.zip(cums).takeWhile(_._2 <= 20L)
          .map { case (r, c) => (r._1, dom, c) }
      }.toSet
    assert(kept.toSet == expect, s"got ${kept.toSeq.sortBy(_._1)}")
    assert(kept.nonEmpty && kept.size < 40, "budget must actually bind")
  }

  test("mixture sampling: weighted targets, whole+partial epochs for scarce domains, repeat cap binds, unweighted domains drop") {
    import spark.implicits._
    // A: 10 docs × 10 tok = 100 avail; B: 4 × 5 = 20 avail; C: unweighted
    val docs = spark.range(14).select(col("id").as("doc_id"),
      when(col("id") < 10, "A").otherwise("B").as("d"),
      when(col("id") < 10, 10L).otherwise(5L).as("ntok"))
      .union(Seq((99L, "C", 7L)).toDF("doc_id", "d", "ntok"))
    // budget 200, A 0.5 → target 100 = exactly 1 full epoch, no partial;
    // B 0.5 → target 100 over 20 avail = 5 epochs, CAPPED at 3, rem 0
    val out = Sampling.mixture(docs, col("d"), col("ntok"),
      Map("A" -> 0.5, "B" -> 0.5), budget = 200L, maxRepeat = 3)
      .select("doc_id", "domain", "epoch").as[(Long, String, Long)].collect()
    val byDom = out.groupBy(_._2)
    assert(!byDom.contains("C"), "unweighted domain must drop")
    // a weighted but ZERO-TOKEN domain must drop too (its epoch
    // arithmetic would otherwise div-by-zero into the repeat cap)
    val zt = docs.union(Seq((500L, "Z", 0L)).toDF("doc_id", "d", "ntok"))
    val outZ = Sampling.mixture(zt, col("d"), col("ntok"),
      Map("A" -> 0.5, "Z" -> 0.5), budget = 200L, maxRepeat = 3)
      .select("domain").as[String].collect()
    assert(!outZ.contains("Z"), "zero-token domain must not up-sample")
    // A: every doc exactly once (epoch 0)
    assert(byDom("A").map(_._3).toSet == Set(0L))
    assert(byDom("A").length == 10)
    // B: every doc exactly 3 times (cap), epochs 0,1,2 — and NOT 5
    assert(byDom("B").map(_._3).toSet == Set(0L, 1L, 2L))
    assert(byDom("B").length == 12)
    // partial epoch: budget 230 → A target 115 = 1 full + 15-token
    // md5-prefix of epoch 1 (first doc 10, second would hit 20 > 15)
    val out2 = Sampling.mixture(docs, col("d"), col("ntok"),
      Map("A" -> 1.0), budget = 115L, maxRepeat = 3)
      .select("doc_id", "domain", "epoch", "cum_tokens")
      .as[(Long, String, Long, Long)].collect()
    assert(out2.count(_._3 == 0L) == 10)
    val partial = out2.filter(_._3 == 1L)
    assert(partial.length == 1, partial.mkString(","))
    assert(partial.head._4 == 10L, "partial epoch must be the md5 prefix")
    // the md5-first doc is the same one tokenBudget would pick
    val firstByBudget = Sampling.tokenBudget(
      docs.filter(col("d") === "A"), col("d"), col("ntok"), budget = 10)
      .select("doc_id").as[Long].collect().toSet
    assert(firstByBudget == Set(partial.head._1))
  }

  test("salted weighted sampling: exact recombined quotas on a 90%-hot-stratum corpus") {
    val docs = spark.range(1000).select(col("id").as("doc_id"),
      when(col("id") < 900, lit("hot")).otherwise(lit("cold")).as("s"))
    val fracs = Map[Any, Double]("hot" -> 0.25, "cold" -> 0.5)
    def quotas(salts: Int): Map[String, Long] =
      graft.operators.Sampling.weighted(docs, col("s"), fracs, salts = salts)
        .groupBy("stratum").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = Map("hot" -> 225L, "cold" -> 50L)
    assert(quotas(1) == expected, s"unsalted quotas off: ${quotas(1)}")
    assert(quotas(4) == expected, s"salted quotas diverged from exact: ${quotas(4)}")
    // deterministic: two salted runs pick the identical id set
    def ids(): Set[Long] =
      graft.operators.Sampling.weighted(docs, col("s"), fracs, salts = 4)
        .select("doc_id").as[Long].collect().toSet
    assert(ids() == ids())
    // ragged case: quota not divisible by salts — largest-remainder
    // allocation still recombines to exactly ceil(frac*n)
    val docs2 = spark.range(997).select(col("id").as("doc_id"), lit("x").as("s"))
    val q2 = graft.operators.Sampling
      .weighted(docs2, col("s"), Map[Any, Double]("x" -> 0.33), salts = 5).count()
    assert(q2 == math.ceil(0.33 * 997).toLong, s"ragged salted quota: $q2")
  }

  test("weighted sampling accepts typed stratum keys; string keys keep the legacy contract") {
    // double-typed strata 0.0 / 0.5 — a string key "0.5" would also
    // work via the canonical cast, but the typed key needs no
    // knowledge of Spark's double-to-string format
    val docs = spark.range(100).select(col("id").as("doc_id"),
      (pmod(col("id"), lit(2)).cast("double") / 2.0).as("s"))
    val got = graft.operators.Sampling
      .weighted(docs, col("s"), Map[Any, Double](0.5 -> 0.5))
      .groupBy("stratum").count().collect()
      .map(r => r.getDouble(0) -> r.getLong(1)).toMap
    assert(got == Map(0.5 -> 25L), s"typed-key quotas: $got")
    val intStrata = docs.withColumn("s", pmod(col("doc_id"), lit(2)).cast("int"))
    val gotStr = graft.operators.Sampling
      .weighted(intStrata, col("s"), Map[Any, Double]("1" -> 0.5)).count()
    assert(gotStr == 25L, s"string-key contract broke: $gotStr")
  }

  test("salted length buckets: batches stay in-bucket, fill up, <= salts partials per bucket") {
    // hot fixture: 90% of docs share one length bucket
    val docs = spark.range(500).select(col("id").as("doc_id"),
      when(col("id") < 450, lit(20L)).otherwise(pmod(col("id"), lit(40L))).as("n"))
    val batched = graft.operators.Packing
      .lengthBuckets(docs, col("n"), bucketWidth = 16, batchSize = 8, salts = 4)
    assert(batched.count() == 500, "doc lost or duplicated")
    val perBatch = batched.groupBy("bucket", "batch_in_bucket")
      .agg(count(lit(1)).as("cnt"),
        (max("n_tokens") - min("n_tokens")).as("spread"))
    assert(perBatch.filter(col("cnt") > 8).count() == 0, "overfull batch")
    assert(perBatch.filter(col("spread") >= 16).count() == 0, "batch wider than bucket")
    val partials = perBatch.filter(col("cnt") < 8)
      .groupBy("bucket").count().filter(col("count") > 4)
    assert(partials.count() == 0, "more than `salts` partial batches in one bucket")
    // deterministic across re-runs
    def sig(): Set[(Long, Long, Long)] = graft.operators.Packing
      .lengthBuckets(docs, col("n"), 16, 8, salts = 4)
      .select("doc_id", "bucket", "batch_in_bucket")
      .as[(Long, Long, Long)].collect().toSet
    assert(sig() == sig())
  }

  test("pack_sequences offsets telescope exactly and match the single-reducer window") {
    val docs = Tables.documents(spark, sf)
    val packed = graft.operators.Packing
      .packSequences(docs, size(split(col("text"), " ")), budget = 512)
      .orderBy("doc_id").collect()
    // offsets are the exclusive prefix sum in id order
    var expect = 0L
    packed.foreach { r =>
      assert(r.getLong(2) == expect,
        s"doc ${r.getLong(0)}: offset ${r.getLong(2)} != $expect")
      assert(r.getLong(3) == r.getLong(2) / 512, "seq_id != offset/budget")
      expect += r.getLong(1)
    }
    // every sequence except the last starts within budget of its first doc
    assert(packed.nonEmpty)
  }

  test("ngram jaccard: identical docs score 1.0, near dups high, others absent") {
    val j = Dedup.ngramJaccard(fixture)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(j((0L, 1L)) == 1.0)
    assert(j.get((0L, 2L)).forall(_ > 0.5))
    assert(!j.keySet.exists { case (a, b) => b == 3L || a == 3L })
  }

  test("cosine top-k excludes the query, stays in [-1,1], sorted desc") {
    val rows = Similarity.cosineTopK(Tables.embeddings(spark, sf)).collect()
    assert(rows.length == 20)
    assert(!rows.map(_.getLong(0)).contains(0L))
    val cos = rows.map(_.getDouble(1))
    assert(cos.forall(c => c >= -1.0 && c <= 1.0))
    assert(cos.sameElements(cos.sortBy(-(_: Double))))
  }

  test("ann ivf finds a planted near-copy of the query vector") {
    // near-identical vectors land in the same Voronoi cell by
    // construction; random weakly-similar data has no such guarantee
    val base = Tables.embeddings(spark, sf)
    // vec 499 becomes query(vec 0) + tiny per-element nudge
    val q = base.filter(col("vec_id") === 0L)
      .select(transform(col("embedding"), x => x + lit(0.001f)).as("near"))
    val withPlant = base.crossJoin(broadcast(q))
      .withColumn("embedding", when(col("vec_id") === 499L, col("near")).otherwise(col("embedding")))
      .drop("near")
    val ivf = Similarity.annIvf(withPlant, k = 10)
      .collect().map(_.getLong(0)).toSet
    assert(ivf.contains(499L), s"IVF missed the planted near-copy: $ivf")
  }

  test("ivf query scans only nprobe cell partitions and reloads from disk") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_spec").toString
    val emb = Tables.embeddings(spark, sf)
    val index = Ivf.fit(emb, tmp, nlist = 8)
    assert(index.nlist == 8)
    val qv = emb.filter(col("vec_id") === 0L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val q = Ivf.query(spark, index, qv, k = 5, nprobe = 3, excludeId = Some(0L))
    // the scale property: the scan's file listing is pruned to the
    // nprobe probed cells — nothing else is even listed, let alone read
    val scans = q.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the query plan")
    val scanned = scans.head.selectedPartitions.partitionCount
    assert(scanned == 3, s"scanned $scanned cell partitions, wanted nprobe=3")
    assert(q.count() == 5)
    // steady-state serving path: reopen the persisted index
    val reopened = Ivf.load(spark, tmp)
    assert(reopened.nlist == index.nlist && reopened.dim == index.dim)
    assert(Ivf.query(spark, reopened, qv, k = 5, nprobe = 3, excludeId = Some(0L))
      .collect().map(_.getLong(0)).toSeq ==
      q.collect().map(_.getLong(0)).toSeq)
  }

  test("ann lsh candidates are a subset ranking consistent with brute force") {
    val ann = Similarity.annLsh(Tables.embeddings(spark, sf)).collect()
    assert(ann.nonEmpty)
    val cos = ann.map(_.getDouble(1))
    assert(cos.sameElements(cos.sortBy(-(_: Double))))
  }

  test("LSH plane sizing pays ONE corpus count across annLsh + embeddingDupPairs") {
    val emb = Tables.embeddings(spark, sf)
    Similarity.clearCountMemo()
    val before = Similarity.countScans.get()
    Similarity.annLsh(emb)                                  // memo miss: one scan
    Similarity.annLsh(emb)                                  // memo hit
    Dedup.embeddingDupPairs(Tables.embeddings(spark, sf))   // same plan → memo hit
    assert(Similarity.countScans.get() - before == 1,
      s"expected 1 count scan, got ${Similarity.countScans.get() - before}")
    // a caller that knows N pays zero scans
    Similarity.clearCountMemo()
    val b2 = Similarity.countScans.get()
    Similarity.annLsh(emb, n = 1000L)
    assert(Similarity.countScans.get() == b2, "explicit n still scanned the corpus")
  }

  test("lsh plane sizing keeps bucket occupancy bounded across 10x corpus growth") {
    val target = 64L
    // by construction: expected occupancy n/2^planes stays at or under target
    for (n <- Seq(2000L, 20000L, 200000L))
      assert(n.toDouble / (1L << Similarity.planesFor(n, target)) <= target, s"n=$n")
    // and the derived count GROWS with the corpus — the scale property a
    // fixed plane default lacks (10x data -> ceil(log2(10)) more planes)
    assert(Similarity.planesFor(20000) - Similarity.planesFor(2000) >= 3)
    // empirical max occupancy on a bucketed synthetic corpus stays near
    // the target (hyperplane signs are near-uniform on spread-out data)
    val n = 5000
    val emb = spark.range(n).select(col("id").as("vec_id"),
      array((0 until 16).map(i =>
        (pmod(xxhash64(col("id"), lit(i)), lit(1000L)).cast("double") / 500.0 - 1.0)
          .cast("float")): _*).as("embedding"))
    val occ = Similarity
      .withBuckets(emb, dim = 16, tables = 2, planes = Similarity.planesFor(n, target))
      .select(posexplode(col("bks")).as(Seq("t", "bucket")))
      .groupBy("t", "bucket").count()
      .agg(max("count")).head().getLong(0)
    assert(occ <= target * 8, s"max bucket occupancy $occ far above the $target target")
  }

  test("vocab counts tokens corpus-wide with a deterministic tie-break") {
    val top = TextOps.vocab(fixture, k = 3).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    // "again" x8 across docs 0-2; "and"/"the" tie at 6 -> token order
    assert(top(0) == ("again" -> 8L), s"top was ${top.toSeq}")
    assert(top(1) == ("and" -> 6L) && top(2) == ("the" -> 6L), s"ties broke wrong: ${top.toSeq}")
  }

  test("bigram LM score matches the hand-computed smoothed log-probs") {
    import spark.implicits._
    // corpus: a:3 b:3 c:1 x:1 -> V=4; bigrams (a,b):3 (b,a):1 (b,c):1
    // k=0.5: P(b|a)=(3+.5)/(3+2)=0.7, P(a|b)=P(c|b)=(1+.5)/(3+2)=0.3
    val docs = Seq((0L, "a b a b"), (1L, "a b c"), (2L, "x"))
      .toDF("doc_id", "text")
    val out = TextOps.lmScore(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val ln7 = -0.356675 // DECIMAL(18,6) of ln(0.7)
    val ln3 = -1.203973 // DECIMAL(18,6) of ln(0.3)
    assert(out.keySet == Set(0L, 1L), "single-token doc 2 must emit no row")
    assert(out(0L)._1 == 3L && out(1L)._1 == 2L)
    assert(math.abs(out(0L)._2 - rnd6((2 * ln7 + ln3) / 3)) < 1e-9, s"doc0: ${out(0L)}")
    assert(math.abs(out(1L)._2 - rnd6((ln7 + ln3) / 2)) < 1e-9, s"doc1: ${out(1L)}")
  }

  private def rnd6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  test("annJoin surfaces planted cross-corpus twins; candidates are verified, sides never self-pair") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val left = emb.filter(col("vec_id") % 2 === 0)
    // the batch: exact twins of three reference vectors under new ids,
    // plus genuine odd-id vectors as distractors
    val twins = left.filter(col("vec_id") <= 4)
      .select((col("vec_id") + 1000001L).as("vec_id"), col("embedding"))
    val right = emb.filter(col("vec_id") % 2 === 1).unionByName(twins)
    val out = Similarity.annJoin(left, right, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val found = out.filter(_._2 > 1000000L).map(p => p._1 -> p._2).toSet
    assert(Set(0L, 2L, 4L).forall(i => found.contains(i -> (i + 1000001L))),
      s"planted twins missed: $found")
    out.filter(_._2 > 1000000L).foreach { case (a, b, c) =>
      if (b == a + 1000001L) assert(c >= 0.999999, s"twin ($a,$b) cosine $c")
    }
    // every pair crosses the corpora: left ids even, right ids odd/new
    assert(out.forall(p => p._1 % 2 == 0 && (p._2 % 2 == 1 || p._2 > 1000000L)))
  }

  test("3-column z-order: every dimension's per-file span shrinks vs a single-column sort") {
    import spark.implicits._
    import graft.operators.Layout
    val n = 27000
    val df = spark.range(n).select(
      (hash(col("id"), lit(1)).cast("double") % 1000).as("x"),
      (hash(col("id"), lit(2)).cast("double") % 1000).as("y"),
      (hash(col("id"), lit(3)).cast("double") % 1000).as("z"))
    def spans(d: org.apache.spark.sql.DataFrame, path: String): Map[String, Double] = {
      d.write.mode("overwrite").parquet(path)
      val perFile = spark.read.parquet(path)
        .groupBy(input_file_name())
        .agg(max("x") - min("x"), max("y") - min("y"), max("z") - min("z"))
        .agg(avg(col("(max(x) - min(x))")), avg(col("(max(y) - min(y))")),
          avg(col("(max(z) - min(z))"))).head()
      Map("x" -> perFile.getDouble(0), "y" -> perFile.getDouble(1),
        "z" -> perFile.getDouble(2))
    }
    val zo = spans(Layout.zorderedFrameN(df, Seq("x", "y", "z"), numFiles = 27),
      "/tmp/graft_zn_zo")
    val sorted = spans(df.repartitionByRange(27, col("x")).sortWithinPartitions("x"),
      "/tmp/graft_zn_sx")
    // the x-sort skips perfectly on x and not at all on y/z; the
    // z-order must shrink EVERY dimension's file spans meaningfully
    assert(zo.values.forall(_ < 1400.0), s"z-order spans too wide: $zo")
    assert(zo("y") < sorted("y") * 0.8 && zo("z") < sorted("z") * 0.8,
      s"no pruning gain over single-column sort: $zo vs $sorted")
  }

  test("tableHealth flags a fragmented partition and clears after compaction") {
    import spark.implicits._
    import graft.operators.Layout
    val dir = java.nio.file.Files.createTempDirectory("graft_health").toString + "/tbl"
    // p=a lands as ~40 tiny files, p=b as one
    (1 to 2000).map(i => (i.toLong, "a")).toDF("k", "p")
      .repartition(40).write.partitionBy("p").parquet(dir)
    (1 to 10).map(i => (i.toLong, "b")).toDF("k", "p")
      .repartition(1).write.mode("append").partitionBy("p").parquet(dir)
    val h = Layout.tableHealth(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(5)))).toMap
    assert(h("p=a")._1 == 40 && h("p=a")._2 == 1.0,
      s"fragmented partition not flagged: ${h("p=a")}")
    assert(h("p=b")._1 == 1)
    // compact the fragmented partition; health must clear
    val fixed = java.nio.file.Files.createTempDirectory("graft_health2").toString
    Layout.compact(spark.read.parquet(s"$dir/p=a"), fixed, targetRowsPerFile = 5000)
    val h2 = Layout.tableHealth(spark, fixed).collect()
    assert(h2.length == 1 && h2.head.getLong(1) == 1,
      s"compaction did not consolidate: ${h2.toSeq}")
  }

  test("indexed bm25 serves the identical ranking and scans only the query terms' buckets") {
    val docs = Tables.documents(spark, sf)
    val idx = java.nio.file.Files.createTempDirectory("graft_textidx").toString
    TextOps.buildTextIndex(docs, idx, buckets = 16)
    val terms = Seq("dup", "vector", "join")
    val served = TextOps.bm25Indexed(spark, idx, terms, k = 50)
    val adhoc = TextOps.bm25(docs, terms, k = 50)
    assert(served.collect().toSeq == adhoc.collect().toSeq,
      "index changed the answer")
    // the scale property: the postings scan lists only the buckets the
    // query terms hash to — the rest of the index is never touched
    val scans = served.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "no file scan in the served plan")
    val maxParts = scans.map(_.selectedPartitions.partitionCount).max
    assert(maxParts <= terms.size,
      s"scanned $maxParts bucket partitions for ${terms.size} terms")
  }

  test("url dedup: variants collapse to one canonical group; canonicalization is idempotent") {
    import spark.implicits._
    import graft.operators.Dedup
    val fx = PipelineQueries.urlFixture.map { case (id, raw, _) => (id, raw) }
      .toDF("doc_id", "url")
    // ids 6 and 7 are the same page under tracking/casing variants
    val groups = Dedup.urlDedup(fx).collect()
      .map(r => r.getString(2) -> ((r.getLong(0), r.getLong(1)))).toMap
    assert(groups("https://example.com/p") == ((6L, 2L)),
      s"variant group: ${groups.get("https://example.com/p")}")
    assert(groups.values.map(_._2).sum == 10L, "every row lands in a group")
    // canonical(canonical(x)) == canonical(x): safe to re-run over a
    // partially-normalized corpus
    val once = fx.select(Dedup.canonicalUrl(col("url")).as("u"))
    val twice = once.select(Dedup.canonicalUrl(col("u")).as("u"))
    assert(once.collect().toSeq == twice.collect().toSeq, "not idempotent")
  }

  test("pagerank: star-graph fixed point matches the hand-solved values; dangling mass conserved") {
    import spark.implicits._
    import graft.operators.Graph
    // bidirectional star: center 0, leaves 1-4. Fixed point solves to
    // PR_c = 0.132/0.2775, PR_l = 0.03 + 0.2125*PR_c
    val star = (1L to 4L).flatMap(l => Seq((0L, l), (l, 0L))).toDF("src", "dst")
    val pr = Graph.pagerank(star, iterations = 40).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // bipartite structure: the error mode oscillates and decays as
    // 0.85^k — 40 rounds bounds it near 1.5e-3, which is what we pin
    val prC = 0.132 / 0.2775
    val prL = 0.03 + 0.2125 * prC
    assert(math.abs(pr(0L) - prC) < 2e-3, s"center ${pr(0L)} vs $prC")
    (1L to 4L).foreach(l => assert(math.abs(pr(l) - prL) < 2e-3, s"leaf ${pr(l)} vs $prL"))
    assert(math.abs(pr.values.sum - 1.0) < 1e-9, s"mass leaked: ${pr.values.sum}")
    // dangling node: 1 -> 2 only; hand-solved fixed point with the
    // dangling mass redistributing uniformly
    val dangling = Seq((1L, 2L)).toDF("src", "dst")
    val pd = Graph.pagerank(dangling, iterations = 60).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(pd(1L) - 0.350877) < 2e-3 && math.abs(pd(2L) - 0.649123) < 2e-3,
      s"dangling fixed point: $pd")
    assert(math.abs(pd.values.sum - 1.0) < 1e-9, s"dangling mass leaked: ${pd.values.sum}")
  }

  test("kcore: bridged cliques survive k=3, dissolve at k=4; chains peel end-in") {
    import spark.implicits._
    import graft.operators.Graph
    // two 4-cliques joined by a bridge 3-10: at k=3 NOTHING prunes
    // (bridge endpoints have degree 4), so the core is the whole graph
    val clique = (for (a <- 0L to 3L; b <- a + 1 to 3L) yield (a, b)) ++
      (for (a <- 10L to 13L; b <- a + 1 to 13L) yield (a, b)) :+ ((3L, 10L))
    val edges = clique.toDF("src", "dst")
    val k3 = Graph.kcore(edges, 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(k3.keySet == (0L to 3L).toSet ++ (10L to 13L).toSet)
    assert(k3(3L) == 4 && k3(10L) == 4, s"bridge endpoints: $k3")
    assert((Set(0L, 1L, 2L, 11L, 12L, 13L) forall (k3(_) == 3)), s"$k3")
    // k=4: only the bridge endpoints have degree >= 4; after pruning
    // the rest they hold a single edge — the core is empty
    assert(Graph.kcore(edges, 4).isEmpty)
    // a 5-chain at k=2 peels END-IN: each round only exposes the next
    // node, so this exercises the iteration, not just one pass
    val chain = (0L to 3L).map(i => (i, i + 1)).toDF("src", "dst")
    assert(Graph.kcore(chain, 2).isEmpty)
    // ... while a 5-cycle at k=2 is exactly itself
    val cycle = (0L to 4L).map(i => (i, (i + 1) % 5)).toDF("src", "dst")
    val c2 = Graph.kcore(cycle, 2).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(c2.keySet == (0L to 4L).toSet && c2.values.forall(_ == 2), s"$c2")
  }

  test("kfoldSplit: clusters never straddle folds, all folds populated, singletons handled") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val docs = ((1L to 3L) ++ Seq(10L, 11L) ++ (100L to 140L)).toDF("doc_id")
    val out = Dedup.kfoldSplit(docs, pairs, k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // every doc assigned, folds in range
    assert(out.length == docs.count())
    assert(out.forall(r => r._3 >= 0 && r._3 < 3))
    // one fold per component — near-dups can never cross a CV boundary
    out.groupBy(_._2).foreach { case (comp, rows) =>
      assert(rows.map(_._3).distinct.length == 1, s"component $comp straddles folds")
    }
    // with 43 clusters (2 multi + 41 singletons), every fold gets members
    assert(out.map(_._3).distinct.sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("electBest: max-quality survivor per cluster, id tiebreak, singleton-free pairs input") {
    import spark.implicits._
    // two clusters: {1,2,3} quality (5, 9, 9) -> survivor 2 (tie 9 at
    // ids 2,3 breaks LOW); {10,11} quality (1, 7) -> survivor 11
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val quality = Seq((1L, 5L), (2L, 9L), (3L, 9L), (10L, 1L), (11L, 7L))
      .toDF("doc_id", "quality")
    val out = Dedup.electBest(pairs, quality).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(1L -> ((2L, 9L)), 10L -> ((11L, 7L))), out.toString)
    // members MISSING a quality row still stand (null ranks last):
    // cluster {20,21} has quality only for 21 -> 21 wins; cluster
    // {30,31} has NO quality rows -> min-id 30 wins with null quality
    val pairs2 = Seq((20L, 21L), (30L, 31L)).toDF("doc_a", "doc_b")
    val quality2 = Seq((21L, 4L)).toDF("doc_id", "quality")
    val out2 = Dedup.electBest(pairs2, quality2).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2)))).toMap
    assert(out2 == Map(20L -> ((21L, 4L)), 30L -> ((30L, -1L))), out2.toString)
  }

  test("jaccardJoin: equals the brute-force token join; hand fixture; nothing below threshold") {
    import spark.implicits._
    // hand fixture: A∩B = {a,b,c,d}, |A∪B| = 6 → 0.666667 ≥ 0.6;
    // A∩C = {a} of 9 → below; B∩C likewise
    val fx = Seq(
      ("A", "a b c d e"), ("B", "a b c d f"), ("C", "a x y z w"))
      .toDF("doc_id", "text")
    val out = Dedup.jaccardJoin(fx, threshold = 0.6).collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2)))
    assert(out.toSeq == Seq(("A", "B", 0.666667)), out.mkString(","))
    // brute-force equality on a messier corpus: 40 docs over a tiny
    // vocab so near-identical sets abound
    val docs = (0 until 40).map { i =>
      val words = (0 until 6).map(j => s"w${(i * 7 + j * 3) % 9}").mkString(" ")
      (s"d$i", words)
    }.toDF("doc_id", "text")
    val t = 0.7
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getString(1))
    val ours = Dedup.jaccardJoin(docs, t).collect().map(key).toSet
    // brute force: unfiltered token join (no prefix), same verify
    val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("tok")).distinct()
    val sz = toks.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val brute = toks.as("a").join(toks.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("i"))
      .join(sz.select(col("doc_id").as("doc_a"), col("sz").as("sa")), "doc_a")
      .join(sz.select(col("doc_id").as("doc_b"), col("sz").as("sb")), "doc_b")
      .filter(col("i").cast("double") / (col("sa") + col("sb") - col("i")) >= t)
      .select("doc_a", "doc_b").collect().map(key).toSet
    assert(ours == brute,
      s"missing ${brute.diff(ours).take(3)}, extra ${ours.diff(brute).take(3)}")
  }

  test("featureHash: counts conserve tokens, buckets stay in range, same token same bucket") {
    import spark.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "a d")).toDF("doc_id", "text")
    val out = TextOps.featureHash(docs, dim = 16).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.map(_._3).sum == 6, "token mass must be conserved")
    assert(out.forall(r => r._2 >= 0 && r._2 < 16))
    // 'a' hashes to ONE bucket: doc 1 carries it with count >= 2 and
    // doc 2 shares that bucket
    val aBucket = TextOps.featureHash(Seq((9L, "a")).toDF("doc_id", "text"), 16)
      .head().getLong(1)
    assert(out.filter(r => r._1 == 1L && r._2 == aBucket).map(_._3).sum >= 2)
    assert(out.exists(r => r._1 == 2L && r._2 == aBucket))
  }

  test("perGroupK: exact k per group, reproducible draw, a new salt draws differently") {
    import spark.implicits._
    val df = (0L until 200L).map(i => (i, (i % 4).toInt)).toDF("doc_id", "grp")
    def draw(salt: String) = graft.operators.Sampling
      .perGroupK(df, col("grp"), k = 10, salt = salt)
      .select("grp", "doc_id").as[(Int, Long)].collect().toSet
    val a = draw("s0")
    assert(a.groupBy(_._1).forall(_._2.size == 10),
      s"every group must yield exactly k: ${a.groupBy(_._1).view.mapValues(_.size).toMap}")
    assert(draw("s0") == a, "a fixed salt must reproduce the set bit-for-bit")
    assert(draw("other") != a, "a new salt must draw an independent sample")
    // a group smaller than k survives whole
    val small = (0L until 3L).map(i => (i, 0)).toDF("doc_id", "grp")
    assert(graft.operators.Sampling.perGroupK(small, col("grp"), k = 10)
      .count() == 3L)
  }

  test("weightProportional: heavy weights dominate, zero-weight rows never win, deterministic") {
    import spark.implicits._
    // 50 heavy docs (weight 1000) vs 950 light docs (weight 1):
    // a k=40 draw should be nearly all heavy
    val docs = (0L until 1000L)
      .map(i => (i, if (i < 50) 1000.0 else 1.0)).toDF("doc_id", "w")
    val picked = graft.operators.Sampling
      .weightProportional(docs, col("w"), k = 40)
      .collect().map(_.getLong(0))
    assert(picked.count(_ < 50L) >= 35, s"heavy fraction: ${picked.count(_ < 50L)}/40")
    // determinism: the same call yields the same set in the same order
    val again = graft.operators.Sampling
      .weightProportional(docs, col("w"), k = 40)
      .collect().map(_.getLong(0))
    assert(picked.toSeq == again.toSeq)
    // the strictly-positive contract is enforced, not just documented:
    // a zero weight fails loudly instead of deterministically winning
    // with key -ln(u)/0 = -Infinity (review finding)
    val withZero = (0L until 10L)
      .map(i => (i, if (i == 7L) 0.0 else 1.0)).toDF("doc_id", "w")
    val e = intercept[Exception] {
      graft.operators.Sampling.weightProportional(withZero, col("w"), k = 3)
        .collect()
    }
    def rootMsg(t: Throwable): String =
      Option(t.getCause).map(rootMsg).getOrElse(Option(t.getMessage).getOrElse(""))
    assert((e.getMessage + rootMsg(e)).contains("strictly positive"),
      e.getMessage)
    // NaN is the guard's blind spot if written as `<= 0` alone: NaN
    // compares GREATER than any number in Spark, so a NaN weight would
    // silently never sample instead of failing (review finding)
    val withNan = (0L until 10L)
      .map(i => (i, if (i == 3L) Double.NaN else 1.0)).toDF("doc_id", "w")
    val en = intercept[Exception] {
      graft.operators.Sampling.weightProportional(withNan, col("w"), k = 3)
        .collect()
    }
    assert((en.getMessage + rootMsg(en)).contains("strictly positive"),
      en.getMessage)
  }

  test("flattenHierarchy: forest resolves roots/depths in log rounds, cycles throw") {
    import spark.implicits._
    import graft.operators.Graph
    // forest: tree A (0 <- 1 <- 2 <- 3, a depth-3 chain) + tree B
    // (10 <- 11, 10 <- 12) — chain depth 3 needs TWO doubling rounds
    val nodes = Seq(
      (0L, None), (1L, Some(0L)), (2L, Some(1L)), (3L, Some(2L)),
      (10L, None), (11L, Some(10L)), (12L, Some(10L)))
      .toDF("node", "parent")
    val out = Graph.flattenHierarchy(nodes).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out == Map(
      0L -> ((0L, 0L)), 1L -> ((0L, 1L)), 2L -> ((0L, 2L)), 3L -> ((0L, 3L)),
      10L -> ((10L, 0L)), 11L -> ((10L, 1L)), 12L -> ((10L, 1L))), out.toString)
    // a 3-cycle has no fixpoint: the guard must throw, not spin
    val cyc = Seq((1L, Some(2L)), (2L, Some(3L)), (3L, Some(1L)))
      .toDF("node", "parent")
    val e = intercept[IllegalArgumentException] {
      Graph.flattenHierarchy(cyc, maxRounds = 8).collect()
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("dedupLines: first global occurrence wins, docs reassemble, empty docs surface") {
    import spark.implicits._
    val docs = Seq(
      (1L, "header\nunique one\nfooter"),
      (2L, "header\nunique two\nfooter\nunique two"),
      (3L, "header\nfooter")).toDF("doc_id", "text")
    val out = Dedup.dedupLines(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    // doc 1 owns the first occurrence of all three of its lines
    assert(out(1L) == (("header\nunique one\nfooter", 3L, 3L)))
    // doc 2: header/footer lost to doc 1; its OWN repeat of "unique
    // two" also drops (in-doc repeats are later occurrences too)
    assert(out(2L) == (("unique two", 1L, 4L)))
    // doc 3 is pure boilerplate: comes back empty, not missing
    assert(out(3L) == (("", 0L, 2L)))
  }

  test("entropy matches the hand-computed value; uniform text maxes, single-char floors at 0") {
    import spark.implicits._
    val docs = Seq((1L, "aab"), (2L, "abcd"), (3L, "aaaa")).toDF("doc_id", "text")
    val out = TextOps.entropy(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // H(aab) = ln 3 - (2 ln 2)/3 with the 2ln2 term at DECIMAL(18,6)
    val want1 = rnd6(math.log(3) - 1.386294 / 3)
    assert(out(1L)._1 == 3L && math.abs(out(1L)._2 - want1) < 1e-9, s"${out(1L)}")
    // 4 distinct chars of 4: maximal ln 4; all-same: exactly 0
    assert(math.abs(out(2L)._2 - rnd6(math.log(4) - 0.0 / 4)) < 1e-9, s"${out(2L)}")
    assert(out(3L)._2 == 0.0, s"${out(3L)}")
  }

  test("BPE training learns the hand-computed merges in order; segment replays them") {
    import spark.implicits._
    // word counts: abc:3, ab:3 -> round 1 pair counts (a,b)=6, (b,c)=3
    // -> merge (a,b); round 2 (ab,c)=3 -> merge; then nothing >= 2
    val docs = Seq((1L, "abc abc ab"), (2L, "abc ab ab")).toDF("doc_id", "text")
    val merges = TextOps.bpeMerges(docs, numMerges = 10)
    assert(merges == Seq((1, "a", "b", 6L), (2, "ab", "c", 3L)),
      s"merges were $merges")
    val seg = TextOps.bpeSegment(docs, merges.map(m => (m._2, m._3)))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(seg(1L) == Seq("abc", "abc", "ab"))
    assert(seg(2L) == Seq("abc", "ab", "ab"))
    // counting is adjacency-based (3 per "aaaa", the classic stats),
    // but the MERGE is greedy non-overlapping: "aaaa" -> [aa, aa]
    val runs = Seq((1L, "aaaa aaaa")).toDF("doc_id", "text")
    val m1 = TextOps.bpeMerges(runs, 1)
    assert(m1 == Seq((1, "a", "a", 6L)), s"adjacency counting: $m1")
    val segRuns = TextOps.bpeSegment(runs, Seq(("a", "a")))
      .collect().map(r => r.getSeq[String](1)).head
    assert(segRuns == Seq("aa", "aa", "aa", "aa"), s"greedy merge: $segRuns")
    // equal counts resolve lexicographically: (x,y) beats (x,z)
    val tie = Seq((1L, "xy xz")).toDF("doc_id", "text")
    assert(TextOps.bpeMerges(tie, 1, minPairCount = 1).head == ((1, "x", "y", 1L)))
  }

  test("batched BPE is merge-for-merge identical to sequential at every window") {
    import spark.implicits._
    val fixture = Seq((1L, "abc abc ab"), (2L, "abc ab ab")).toDF("doc_id", "text")
    val seqFix = TextOps.bpeMerges(fixture, 10)
    assert(TextOps.bpeMergesBatched(fixture, 10)._1 == seqFix)
    // adversarial corpus: a 5-letter alphabet makes nearly every top
    // candidate share a symbol with the next — the regime where a
    // wrong batching rule diverges from sequential immediately
    val rng = new scala.util.Random(42)
    val words = Seq.fill(200)(
      Seq.fill(3 + rng.nextInt(6))(('a' + rng.nextInt(5)).toChar).mkString)
    val docs = words.grouped(20).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val sequential = TextOps.bpeMerges(docs, 30, minPairCount = 1)
    assert(sequential.size == 30, s"fixture too small: ${sequential.size} merges")
    for (w <- Seq(2, 8, 64)) {
      val (batched, rounds) = TextOps.bpeMergesBatched(docs, 30, minPairCount = 1, window = w)
      assert(batched == sequential,
        s"window=$w diverged:\n  batched   =$batched\n  sequential=$sequential")
      info(s"window=$w: 30 merges in $rounds rounds")
    }
    // 2-letter alphabet: the maximal-ambiguity regime where a merge's
    // CREATED STRING collides with other candidates' inputs (e.g.
    // "aba" reachable as a+ba and ab+a) — the case the disjointness
    // rule must reject, or one batched pass cascades a created symbol
    // into a second merge that sequential BPE only makes after a
    // recount
    val rng2 = new scala.util.Random(7)
    val words2 = Seq.fill(300)(
      Seq.fill(2 + rng2.nextInt(8))(('a' + rng2.nextInt(2)).toChar).mkString)
    val docs2 = words2.grouped(25).zipWithIndex
      .map { case (ws, i) => (i.toLong, ws.mkString(" ")) }.toSeq
      .toDF("doc_id", "text")
    val seq2 = TextOps.bpeMerges(docs2, 40, minPairCount = 1)
    assert(seq2.size == 40, s"ambiguity fixture too small: ${seq2.size}")
    for (w <- Seq(4, 16, 64)) {
      val (batched2, rounds2) =
        TextOps.bpeMergesBatched(docs2, 40, minPairCount = 1, window = w)
      assert(batched2 == seq2,
        s"2-letter alphabet, window=$w diverged:\n  batched   =$batched2\n  sequential=$seq2")
      info(s"2-letter alphabet, window=$w: 40 merges in $rounds2 rounds")
    }
  }

  test("batched BPE: 1000 merges complete in bounded distributed rounds") {
    import spark.implicits._
    // 1000 symbol-disjoint two-char words (CJK block — all BMP, so
    // split("") is one code unit per symbol) with strictly decreasing
    // frequencies: the whole candidate table is conflict-free, so each
    // round absorbs ~window merges
    val pairs = (0 until 1000).map { i =>
      ((0x4E00 + 2 * i).toChar.toString, (0x4E00 + 2 * i + 1).toChar.toString, 1002L - i)
    }
    val docs = pairs.zipWithIndex.map { case ((a, b, n), i) =>
      (i.toLong, Seq.fill(n.toInt)(a + b).mkString(" "))
    }.toDF("doc_id", "text")
    val (merges, rounds) = TextOps.bpeMergesBatched(docs, 1000, window = 256)
    assert(merges.size == 1000, s"only ${merges.size} merges learned")
    assert(rounds <= 6, s"1000 merges took $rounds rounds — batching is not batching")
    // merge order must be exactly descending frequency
    val expected = pairs.sortBy(-_._3).zipWithIndex
      .map { case ((a, b, n), i) => (i + 1, a, b, n) }
    assert(merges == expected,
      s"order diverged at ${merges.zip(expected).indexWhere(t => t._1 != t._2)}")
    info(s"1000 merges in $rounds distributed rounds (window=256)")
  }

  test("bm25 matches the hand-computed formula and ranks the rare term first") {
    import spark.implicits._
    // N=3, dl = 4/2/4, avgdl = 10/3; terms a (df=2) and e (df=1):
    // the rare-term doc must outrank the high-tf common-term doc
    val docs = Seq((1L, "a b a c"), (2L, "a d"), (3L, "e f g h"))
      .toDF("doc_id", "text")
    val out = TextOps.bm25(docs, Seq("a", "e"), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    def contrib(tf: Long, df: Long, dl: Int): Double = {
      val n = 3.0; val avgdl = 10.0 / 3.0
      val idf = math.log((n - df + 0.5) / (df + 0.5) + 1.0)
      rnd6(idf * (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
    }
    val expected = Seq(
      (3L, 1L, contrib(1, 1, 4)),  // rare 'e' wins
      (1L, 1L, contrib(2, 2, 4)),  // tf=2 of common 'a'
      (2L, 1L, contrib(1, 2, 2)))  // short doc, tf=1
    assert(out.map(t => (t._1, t._2)) sameElements expected.map(t => (t._1, t._2)),
      s"ranking was ${out.toSeq}")
    out.zip(expected).foreach { case ((_, _, got), (id, _, want)) =>
      assert(math.abs(got - want) < 1e-9, s"doc $id: $got vs $want")
    }
  }

  test("language id picks the language with the most marker hits") {
    val d = Seq((1L, "el gato la casa el perro"), (2L, "the cat the dog a bird"))
      .toDF("doc_id", "text")
    val got = TextOps.langId(d).collect().map(r => r.getLong(0) -> r.getString(5)).toMap
    assert(got(1L) == "es")
    assert(got(2L) == "en")
  }

  test("token counts agree with a manual count") {
    val d = Seq((1L, "one two two 42 !")).toDF("doc_id", "text")
    val r = TextOps.tokens(d).head()
    assert(r.getInt(1) == 5)     // ws tokens
    assert(r.getInt(2) == 5)     // regex tokens: one, two, two, 42, !
    assert(r.getInt(3) == 4)     // distinct ws tokens
  }

  test("rolling hash: equal inputs collide, different inputs do not") {
    val d = Seq((1L, "same text"), (2L, "same text"), (3L, "other text"))
      .toDF("doc_id", "text")
    val h = TextOps.rollhash(d).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(1L) == h(2L))
    assert(h(1L) != h(3L))
  }

  test("rolling hash emits into whole-stage generated code") {
    // needs a real scan (local relations fold before codegen) and an
    // executed plan (AQE materializes codegen stages lazily)
    val df = TextOps.rollhash(Tables.documents(spark, sf))
    df.collect()
    val code = org.apache.spark.sql.execution.debug.codegenString(
      df.queryExecution.executedPlan)
    assert(code.contains("1315423911"), s"RollingHash loop not in generated code:\n$code")
  }

  test("frame sampling reassembles to the original length") {
    val d = Seq((1L, "x" * 700)).toDF("doc_id", "text")
    val frames = Multimodal.frameSample(d).collect()
    assert(frames.length == 3)
    assert(frames.map(_.getInt(2)).sum == 700)
  }

  test("feature extraction: histogram covers all bytes, entropy bounded, resize fits") {
    val feats = Multimodal.featureExtract(spark, Tables.documents(spark, sf)).collect()
    val lens = Tables.documents(spark, sf)
      .select(col("doc_id"), octet_length(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    feats.foreach { f =>
      assert(f.histogram.sum == lens(f.doc_id), s"doc ${f.doc_id} histogram incomplete")
      assert(f.entropy >= 0.0 && f.entropy <= 4.0) // 16 buckets → ≤ 4 bits
      assert(f.resized_w <= 224 && f.resized_h <= 224)
      assert(f.resized_w >= 1 && f.resized_h >= 1)
    }
  }

  test("redaction removes emails and long digit runs, keeps ids stable") {
    val d = Seq((1L, "mail me at a.b@x.co or call 1234567 now")).toDF("doc_id", "text")
    val r = TextOps.redact(d).head()
    assert(r.getString(1) == "mail me at <EMAIL> or call <NUM> now")
  }

  test("PQ model save/load round-trips: identical codes from the reloaded codebooks") {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, sf)
    val model = Pq.fit(emb)
    val tmp = java.nio.file.Files.createTempDirectory("graft_pq_model").toString
    Pq.save(spark, model, tmp)
    val reloaded = Pq.load(spark, tmp)
    assert(reloaded.m == model.m && reloaded.ksub == model.ksub &&
      reloaded.dsub == model.dsub)
    val a = Pq.encode(emb, model).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = Pq.encode(emb, reloaded).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b, "reloaded codebooks produced different codes")
  }

  test("IVF-PQ artifacts: the persisted PQ model is LOADED on the warm path, never refit") {
    import graft.operators.{Ivf, Pq}
    val emb = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_warm").toString
    val (index, m1) = Pq.loadOrBuildIvfPq(spark, emb, tmp)
    assert(new java.io.File(s"$tmp/pq_codebooks").exists(),
      "model not persisted beside the codes")
    // replace the persisted model + codes with a DIFFERENT-seed build;
    // a warm resolve must return exactly the seed-7 codebooks (load) —
    // a refit would return the default-seed model and silently mismatch
    // the codes on disk
    val m7 = Pq.fitResidual(spark, index, seed = 7L)
    Pq.save(spark, m7, tmp, encoding = "residual")
    Pq.encodeIvf(spark, index, m7)
    val (_, m2) = Pq.loadOrBuildIvfPq(spark, emb, tmp)
    assert(java.util.Arrays.deepEquals(
      m2.codebooks.asInstanceOf[Array[AnyRef]], m7.codebooks.asInstanceOf[Array[AnyRef]]),
      "warm path did not load the persisted model")
    val _ = m1 // cold-path model; superseded by the planted rebuild
    // a REBUILT index (e.g. partial earlier build lost the centroids)
    // invalidates surviving codes — their cell partitioning belongs to
    // the old index. The resolve must re-encode, not reuse them.
    def codesState() = {
      val base = java.nio.file.Paths.get(s"$tmp/codes")
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(base).iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => p.toString -> p.toFile.lastModified).toMap
    }
    val staleCodes = codesState()
    def deleteDir(d: String): Unit = {
      val p = new java.io.File(d)
      if (p.exists) { Option(p.listFiles).getOrElse(Array.empty)
        .foreach(f => deleteDir(f.toString)); p.delete() }
    }
    deleteDir(s"$tmp/centroids")
    Pq.loadOrBuildIvfPq(spark, emb, tmp)
    assert(codesState() != staleCodes,
      "index rebuilt but stale codes were reused (cell ids from the old index)")
  }

  test("IVF-PQ artifacts: a raw-encoding (or pre-marker) model forces refit, never warm-loads") {
    import graft.operators.{Ivf, Pq}
    val emb = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq_fmt").toString
    val index = Ivf.fit(emb, tmp)
    // plant a RAW-space model at the artifact path (what a pre-residual
    // deployment left behind, and what Pq.save stamps by default):
    // warm-loading it would ADC-score residual LUTs against raw-space
    // codes — silent garbage — so the resolve must refit instead
    val raw = Pq.fit(emb)
    Pq.save(spark, raw, tmp) // default encoding = "raw"
    assert(Pq.savedEncoding(spark, tmp) == "raw")
    val (_, m) = Pq.loadOrBuildIvfPq(spark, emb, tmp)
    assert(!java.util.Arrays.deepEquals(
      m.codebooks.asInstanceOf[Array[AnyRef]], raw.codebooks.asInstanceOf[Array[AnyRef]]),
      "raw-encoded artifact was warm-loaded into the residual path")
    assert(Pq.savedEncoding(spark, tmp) == "residual",
      "refit did not stamp the residual marker")
    // a pre-marker artifact (no encoding column at all) reads as raw
    val legacy = java.nio.file.Files.createTempDirectory("graft_pq_legacy").toString
    import spark.implicits._
    val rows = for (j <- 0 until raw.m; c <- 0 until raw.ksub)
      yield (j, c, raw.codebooks(j)(c).toSeq)
    rows.toDF("subspace", "code", "centroid")
      .coalesce(1).write.mode("overwrite").parquet(s"$legacy/pq_codebooks")
    assert(Pq.savedEncoding(spark, legacy) == "raw",
      "marker-less legacy artifact must read as raw")
  }

  test("PQ shortlist: corrupt rows sort last (never consume slots); re-rank is a broadcast join") {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, sf)
    val model = Pq.fit(emb)
    val clean = Pq.encode(emb, model)
    // five vectors with wrong-length codes: ADC scores them null; an
    // ascending sort without nulls-last would rank them FIRST and they
    // would fill the whole shortlist
    val corrupted = clean.withColumn("codes",
      when(col("vec_id").between(400, 404), array(lit(0))).otherwise(col("codes")))
    val k = 5
    val got = Pq.query(emb, model, queryId = 0L, k = k, shortlist = 6,
      codes = Some(corrupted))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"re-rank shortlist is not a broadcast join:\n$plan")
    val rows = got.collect()
    assert(rows.length == k)
    assert(rows.forall(r => !(400L to 404L).contains(r.getLong(0))),
      "corrupt row surfaced in the result")
    // slots not wasted: identical to querying with the corrupt rows absent
    val cleanRows = Pq.query(emb, model, queryId = 0L, k = k, shortlist = 6,
      codes = Some(clean.filter(!col("vec_id").between(400, 404)))).collect()
    assert(rows.map(_.getLong(0)).toSeq == cleanRows.map(_.getLong(0)).toSeq,
      "corrupt rows consumed shortlist capacity")
  }

  test("image headers: PNG/JPEG/GIF dims from real bytes; walks past EXIF and fill bytes; corrupt null") {
    import spark.implicits._
    val exifJpeg = // SOI, APP1 (Exif, 8 data bytes), FF fill byte, then SOF2 (progressive)
      "FFD8" + "FFE1" + "000A" + "4578696600AABBCC" + "FF" +
        "FFC2" + "000B" + "08" + "0140" + "0200" + "011100" + "FFD9"
    val sosBeforeSof = "FFD8" + "FFDA" + "0004" + "0000" + "FFD9"
    val d = Seq(
      (1L, PipelineQueries.pngHex(640, 480)),
      (2L, PipelineQueries.jpegHex(1024, 768)),
      (3L, PipelineQueries.gifHex(320, 200)),
      (4L, exifJpeg),                               // height 0x0140=320, width 0x0200=512
      (5L, PipelineQueries.pngHex(640, 480).take(40)), // truncated mid-IHDR
      (6L, sosBeforeSof),
      (7L, "DEADBEEF")
    ).toDF("doc_id", "hex")
    val r = Multimodal.imageMeta(d.select(col("doc_id"), unhex(col("hex")).as("payload")))
      .collect()
      .map(x => x.getLong(0) ->
        (if (x.isNullAt(2)) None else Some((x.getString(2), x.getInt(3), x.getInt(4)))))
      .toMap
    assert(r(1L).contains(("png", 640, 480)))
    assert(r(2L).contains(("jpeg", 1024, 768)))
    assert(r(3L).contains(("gif", 320, 200)))
    assert(r(4L).contains(("jpeg", 512, 320)), s"EXIF+fill walk failed: ${r(4L)}")
    assert(r(5L).isEmpty, "truncated PNG must parse to null")
    assert(r(6L).isEmpty, "SOS before SOF must parse to null")
    assert(r(7L).isEmpty, "garbage must parse to null")
  }

  test("audio headers: WAV walks past JUNK, odd chunks pad, FLAC unpacks 20-bit rate; corrupt null") {
    import spark.implicits._
    // fmt behind an ODD-sized chunk (5 bytes + pad) — word alignment matters
    val oddChunkWav = "52494646" + "64000000" + "57415645" +
      "62657874" + "05000000" + "AABBCCDDEE" + "00" +
      "666D7420" + "10000000" + "0100" + "0200" + "44AC0000" +
      "10B10200" + "0400" + "1000"
    val noFmtWav = "52494646" + "10000000" + "57415645" +
      "4A554E4B" + "04000000" + "00000000"
    val d = Seq(
      (1L, PipelineQueries.wavHex(44100, 2, 16)),
      (2L, PipelineQueries.flacHex(96000, 6, 24)),
      (3L, oddChunkWav),                              // 44100 Hz stereo 16-bit
      (4L, noFmtWav),
      (5L, PipelineQueries.flacHex(44100, 2, 16).take(20)), // truncated STREAMINFO
      (6L, "DEADBEEF")
    ).toDF("doc_id", "hex")
    val r = Multimodal.audioMeta(d.select(col("doc_id"), unhex(col("hex")).as("payload")))
      .collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(2)) None
        else Some((x.getString(2), x.getInt(3), x.getInt(4), x.getInt(5)))))
      .toMap
    assert(r(1L).contains(("wav", 44100, 2, 16)), s"JUNK walk failed: ${r(1L)}")
    assert(r(2L).contains(("flac", 96000, 6, 24)), s"bit unpack failed: ${r(2L)}")
    assert(r(3L).contains(("wav", 44100, 2, 16)), s"odd-chunk pad failed: ${r(3L)}")
    assert(r(4L).isEmpty, "a WAV without fmt must parse to null")
    assert(r(5L).isEmpty, "truncated FLAC must parse to null")
    assert(r(6L).isEmpty, "garbage must parse to null")
    // SQL surface + whole-stage codegen: a non-foldable payload (the
    // literal form constant-folds — itself proof of eval) must keep
    // the parse inside a codegen stage
    GraftExtensions.register(spark)
    val hex = PipelineQueries.wavHex(8000, 1, 8)
    val sq = spark.range(1)
      .selectExpr(s"audio_header(unhex(if(id >= 0, '$hex', ''))).sample_rate AS sr")
    assert(sq.head().getInt(0) == 8000)
    assert(sq.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined,
      s"parse fell out of codegen:\n${sq.queryExecution.executedPlan}")
  }

  test("video headers: MP4 two-level box walk, 16.16 dims, AVI hdrl walk; audio-only and corrupt null") {
    import spark.implicits._
    // an MP4 whose only trak is AUDIO (tkhd dims 0x0) must null out —
    // dims never invent themselves
    val audioOnlyMp4 = PipelineQueries.mp4Hex(0, 0, 600, 3000)
    val d = Seq(
      (1L, PipelineQueries.mp4Hex(1920, 1080, 90000, 450000)), // 5000 ms
      (2L, PipelineQueries.aviHex(640, 480, 33333, 300)),      // 9999 ms
      (3L, audioOnlyMp4),
      (4L, "000000106674797069736F6D"),                        // truncated ftyp
      (5L, "DEADBEEF")
    ).toDF("doc_id", "hex")
    val r = Multimodal.videoMeta(d.select(col("doc_id"), unhex(col("hex")).as("payload")))
      .collect()
      .map(x => x.getLong(0) -> (if (x.isNullAt(2)) None
        else Some((x.getString(2), x.getInt(3), x.getInt(4), x.getLong(5)))))
      .toMap
    assert(r(1L).contains(("mp4", 1920, 1080, 5000L)), s"box walk failed: ${r(1L)}")
    assert(r(2L).contains(("avi", 640, 480, 9999L)), s"hdrl walk failed: ${r(2L)}")
    assert(r(3L).isEmpty, "audio-only MP4 must parse to null")
    assert(r(4L).isEmpty, "truncated MP4 must parse to null")
    assert(r(5L).isEmpty, "garbage must parse to null")
    // SQL surface + codegen, the audio_header precedent
    GraftExtensions.register(spark)
    val hex = PipelineQueries.mp4Hex(320, 240, 1000, 12345)
    val sq = spark.range(1)
      .selectExpr(s"video_header(unhex(if(id >= 0, '$hex', ''))).duration_ms AS ms")
    assert(sq.head().getLong(0) == 12345L)
    assert(sq.queryExecution.executedPlan.find(
      _.isInstanceOf[org.apache.spark.sql.execution.WholeStageCodegenExec]).isDefined,
      s"parse fell out of codegen:\n${sq.queryExecution.executedPlan}")
  }

  private def listParquet(dir: String): Map[String, (Long, Long)] = {
    val base = java.nio.file.Paths.get(dir)
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(base).iterator().asScala
      .filter(_.toString.endsWith(".parquet"))
      .map(p => base.relativize(p).toString -> ((p.toFile.length, p.toFile.lastModified)))
      .toMap
  }

  test("Ivf/Pq append: no refit, old cell files byte-identical, planted twin found by both paths") {
    import graft.operators.{Ivf, Pq}
    val emb = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_append").toString
    val index = Ivf.fit(emb, tmp)
    // assignment consistency: the codegen'd argmin reproduces KMeans'
    // own fit-time cell for EVERY corpus vector — appended rows land
    // exactly where queries probe
    val fitCells = spark.read.parquet(s"$tmp/vectors").select("vec_id", "cell")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val assigned = emb.select(col("vec_id"),
      graft.functions.IvfFunctions.ivf_assign(
        col("embedding"), Ivf.centroidMatrix(index)).as("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(assigned == fitCells, "ivf_assign diverged from KMeans' fit-time cells")
    val model = Pq.fitResidual(spark, index)
    Pq.encodeIvf(spark, index, model)
    val vBefore = listParquet(s"$tmp/vectors")
    val cBefore = listParquet(s"$tmp/codes")
    // append a planted twin of vector 7 under a new id — no refit
    val twin = emb.filter(col("vec_id") === 7L)
      .select(lit(10007L).as("vec_id"), col("embedding"))
    Ivf.append(spark, index, twin)
    Pq.encodeAppend(spark, index, model, twin)
    val vAfter = listParquet(s"$tmp/vectors")
    val cAfter = listParquet(s"$tmp/codes")
    assert(vBefore.forall { case (f, st) => vAfter.get(f).contains(st) },
      "append rewrote a pre-existing vectors file")
    assert(cBefore.forall { case (f, st) => cAfter.get(f).contains(st) },
      "encodeAppend rewrote a pre-existing codes file")
    assert(vAfter.size > vBefore.size && cAfter.size > cBefore.size)
    // both query paths surface the appended twin at cosine 1.0
    val qv = emb.filter(col("vec_id") === 7L)
      .select(col("embedding").cast("array<double>"))
      .head().getSeq[Double](0).toArray
    val ivfTop = Ivf.query(spark, index, qv, k = 2, excludeId = Some(7L)).collect()
    assert(ivfTop.exists(r => r.getLong(0) == 10007L && r.getDouble(1) == 1.0),
      s"IVF query missed the appended twin: ${ivfTop.toSeq}")
    val pqTop = Pq.ivfQuery(spark, index, model, qv, k = 2, excludeId = Some(7L)).collect()
    assert(pqTop.exists(r => r.getLong(0) == 10007L && r.getDouble(1) == 1.0),
      s"IVF-PQ query missed the appended twin: ${pqTop.toSeq}")
  }

  test("Ivf.remove: only touched cells rewrite, emptied cell drops, codes stay in sync, idempotent") {
    import graft.operators.{Ivf, Pq}
    val emb = Tables.embeddings(spark, sf)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivf_remove").toString
    val index = Ivf.fit(emb, tmp)
    Pq.encodeIvf(spark, index, Pq.fitResidual(spark, index))
    val byCell = spark.read.parquet(s"$tmp/vectors").select("vec_id", "cell")
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
    // erase one whole (smallest) cell plus one vector of another
    val (emptyCell, emptyIds) = byCell.minBy(_._2.size)
    val (otherCell, otherIds) = byCell.filter(_._1 != emptyCell).maxBy(_._2.size)
    val victims = emptyIds :+ otherIds.head
    val vBefore = listParquet(s"$tmp/vectors")
    val cBefore = listParquet(s"$tmp/codes")
    Ivf.remove(spark, index, victims)
    val vAfter = listParquet(s"$tmp/vectors")
    val cAfter = listParquet(s"$tmp/codes")
    // untouched cells byte-identical in BOTH artifacts
    def untouched(files: Map[String, (Long, Long)]) = files.filterNot(f =>
      f._1.startsWith(s"cell=$emptyCell/") || f._1.startsWith(s"cell=$otherCell/"))
    assert(untouched(vBefore).forall { case (f, st) => vAfter.get(f).contains(st) },
      "remove rewrote an untouched vectors cell")
    assert(untouched(cBefore).forall { case (f, st) => cAfter.get(f).contains(st) },
      "remove rewrote an untouched codes cell")
    assert(!vAfter.keys.exists(_.startsWith(s"cell=$emptyCell/")) &&
      !cAfter.keys.exists(_.startsWith(s"cell=$emptyCell/")),
      "an emptied cell must drop its directory")
    // removed ids gone from both artifacts; everything else intact
    val liveV = spark.read.parquet(s"$tmp/vectors").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    val liveC = spark.read.parquet(s"$tmp/codes").select("vec_id")
      .collect().map(_.getLong(0)).toSet
    assert(liveV == liveC, "vectors and codes diverged after remove")
    assert(victims.forall(v => !liveV.contains(v)))
    assert(liveV.size == byCell.values.map(_.size).sum - victims.size)
    // idempotent: a replayed erasure batch is a no-op
    Ivf.remove(spark, index, victims)
    assert(listParquet(s"$tmp/vectors") == vAfter &&
      listParquet(s"$tmp/codes") == cAfter, "replayed remove must not rewrite")
    // a query near the erased whole-cell vectors no longer returns them
    val qv = emb.filter(col("vec_id") === emptyIds.head)
      .select(col("embedding").cast("array<double>")).head().getSeq[Double](0).toArray
    val top = Ivf.query(spark, index, qv, k = 5).collect().map(_.getLong(0)).toSet
    assert(top.intersect(victims.toSet).isEmpty, s"query surfaced erased ids: $top")
  }

  test("incremental dedup: batch joins the PERSISTED corpus banding; exact re-present guaranteed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc_dedup").toString
    Dedup.bandedSignatures(fixture).write.mode("overwrite").parquet(tmp)
    val corpusBands = spark.read.parquet(tmp)
    import spark.implicits._
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again and again"), // = docs 0/1
      (101L, "entirely novel content that matches nothing in the corpus at all today")
    ).toDF("doc_id", "text")
    val cands = Dedup.incrementalCandidates(batch, corpusBands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // the verbatim re-present shares every band with its corpus twins
    assert(cands.contains((100L, 0L)) && cands.contains((100L, 1L)),
      s"re-presented doc missed: $cands")
    // the novel doc must not flood candidates (near-dup 2 may or may not
    // collide with 100 — that's the S-curve — but 101 matches nothing)
    assert(!cands.exists(_._1 == 101L), s"novel doc produced candidates: $cands")
  }

  test("incremental ingest gate: re-presents and verified near-dups rejected, novel admitted") {
    import spark.implicits._
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc_gate").toString
    Dedup.bandedSignatures(fixture).write.mode("overwrite").parquet(tmp)
    val corpusBands = spark.read.parquet(tmp)
    val batch = Seq(
      (200L, "the quick brown fox jumps over the lazy dog again and again and again"), // exact re-present
      (201L, "the quick brown fox jumps over the lazy dog again and again and twice"), // near-dup (1 word off, jaccard ~0.85)
      (202L, "entirely novel content that matches nothing in the corpus at all today")
    ).toDF("doc_id", "text")
    val admitted = Dedup.incrementalIngest(batch, fixture, corpusBands)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(202L), s"admitted were $admitted")
  }

  test("incremental ingest under NON-DEFAULT banding: the typed artifact threads its own params") {
    import spark.implicits._
    // band the corpus under 16x2 (not the 8x4 default): with the old
    // hard-coded defaults the batch would band 8x4, hash into disjoint
    // buckets, find zero candidates, and ADMIT the verbatim re-present
    val tmp = java.nio.file.Files.createTempDirectory("graft_inc_banding").toString
    Dedup.saveBandedSignatures(fixture, tmp,
      Dedup.Banding(shingleK = 2, bands = 16, rowsPerBand = 2))
    val corpus = Dedup.loadBandedSignatures(spark, tmp)
    assert(corpus.banding == Dedup.Banding(2, 16, 2), "banding params lost in round-trip")
    val batch = Seq(
      (300L, "the quick brown fox jumps over the lazy dog again and again and again"), // re-present
      (301L, "entirely novel content that matches nothing in the corpus at all today")
    ).toDF("doc_id", "text")
    val admitted = Dedup.incrementalIngest(batch, fixture, corpus, minJaccard = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(admitted == Set(301L),
      s"gate failed open under non-default banding: admitted $admitted")
  }

  test("common spans: planted boilerplate surfaces; in-doc repetition cannot fake spread") {
    import spark.implicits._
    val boiler = "copyright notice all rights reserved"
    val d = Seq(
      (1L, s"alpha beta $boiler gamma"),
      (2L, s"$boiler delta epsilon"),
      (3L, s"zeta $boiler"),
      // the same 5-gram ten times in ONE doc: per-doc distinct keeps
      // its doc count at 1, so it must not surface
      (4L, ("solo gram one two three " * 10).trim)
    ).toDF("doc_id", "text")
    val spans = TextOps.commonSpans(d, n = 5, minDocs = 3)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val boilerHash = java.security.MessageDigest.getInstance("MD5")
      .digest(boiler.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(spans.get(boilerHash).contains(3L), s"boilerplate gram missing: $spans")
    assert(spans.values.forall(_ >= 3L))
    assert(spans.size == 1, s"unexpected extra spans: $spans")
  }

  test("boilerplate strip: planted shared header removed from every doc, unique content intact") {
    import spark.implicits._
    val header = "copyright notice all rights reserved"
    val d = Seq(
      (1L, s"$header alpha beta gamma delta"),
      (2L, s"epsilon $header zeta eta"),
      (3L, s"theta iota $header"),
      // clean doc: must pass through untouched with frac 0
      (4L, "kappa lambda mu nu xi omicron pi rho"),
      // a doc that is NOTHING BUT the shared header: empty survivor, frac 1
      (5L, header)
    ).toDF("doc_id", "text")
    val r = TextOps.stripBoilerplate(d, n = 5, minDocs = 3)
      .collect().map(x => x.getLong(0) -> (x.getString(1), x.getDouble(2))).toMap
    assert(r(1L) == (("alpha beta gamma delta", round6(5.0 / 9))), s"doc 1: ${r(1L)}")
    assert(r(2L) == (("epsilon zeta eta", 0.625)), s"doc 2: ${r(2L)}")
    assert(r(3L) == (("theta iota", round6(5.0 / 7))), s"doc 3: ${r(3L)}")
    assert(r(4L) == (("kappa lambda mu nu xi omicron pi rho", 0.0)), s"doc 4: ${r(4L)}")
    assert(r(5L) == (("", 1.0)), s"doc 5: ${r(5L)}")
  }

  test("heavy hitters: planted heavy token survives a sketch far smaller than the vocabulary") {
    // 20k singleton tokens + one token repeated 2000x, tracked by a
    // 256-counter sketch — the frequent-items guarantee: any item with
    // count > ~3.5n/maxTracked (~300 here) cannot be evicted
    val docs = spark.range(20000).select(
      lit("s").as("source"),
      concat_ws(" ", col("id").cast("string"),
        when(col("id") % 10 === 0, lit("HEAVY"))).as("text"))
    val top = TextOps.heavyHitters(docs, k = 5, maxTracked = 256).collect()
    // the sketch reports only items it can PROVE frequent — the flood of
    // singletons is (correctly) absent, not padded in
    assert(top.nonEmpty && top.length <= 5)
    val head = top.head
    assert(head.getString(1) == "HEAVY", s"planted heavy hitter not first: ${top.toSeq}")
    val est = head.getLong(2)
    assert(math.abs(est - 2000L) <= 600, s"estimate $est too far from true 2000")
  }

  test("heavy-hitter sketches: per-slice accumulate + combine equals the single pass") {
    val docs = Tables.documents(spark, sf)
    val s1 = TextOps.heavyHitterSketches(docs.filter(col("doc_id") % 2 === 0))
    val s2 = TextOps.heavyHitterSketches(docs.filter(col("doc_id") % 2 === 1))
    val combined = TextOps.combineHeavyHitterSketches(s1.unionAll(s2))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val direct = TextOps.heavyHitters(docs)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(combined == direct,
      s"combined sketches diverged from the single pass: ${combined.diff(direct)} / ${direct.diff(combined)}")
  }

  test("PQ codes: m in-range ints, scale-invariant (normalization), corrupt rows null") {
    import graft.operators.Pq
    val emb = Tables.embeddings(spark, sf)
    val model = Pq.fit(emb)
    assert(model.m == 8 && model.ksub == 16 && model.dsub == 8)
    val codes = Pq.encode(emb, model).collect()
    assert(codes.length == emb.count())
    codes.foreach { r =>
      val cs = r.getSeq[Int](1)
      assert(cs.length == 8 && cs.forall(c => c >= 0 && c < 16), s"bad codes $cs")
    }
    // L2 normalization inside the encode: a scaled copy gets IDENTICAL
    // codes, so magnitude never leaks into the ADC ordering
    val twin = emb.limit(5)
      .select(col("vec_id"), transform(col("embedding"), x => x * lit(2.0f)).as("embedding"))
    val orig = Pq.encode(emb.limit(5), model).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    Pq.encode(twin, model).collect().foreach { r =>
      assert(r.getSeq[Int](1) == orig(r.getLong(0)), "scaled copy changed codes")
    }
    // wrong-dim vector: visible null, not a silent truncation
    import spark.implicits._
    val corrupt = Seq((1L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    assert(Pq.encode(corrupt, model).head().isNullAt(1))
  }

  test("repetition fractions match hand-computed values, incl. the sub-bigram doc") {
    val d = Seq(
      (1L, "spam spam spam spam"),  // 4 words (1 distinct), 3 bigrams all "spam spam"
      (2L, "a b a b c"),            // 5 words (3 distinct); bigrams: ab, ba, ab, bc
      (3L, "one")                   // 1 word: zero bigrams, null fractions
    ).toDF("doc_id", "text")
    val r = TextOps.repetition(d).collect()
    val byId = r.map(row => row.getLong(0) -> row).toMap
    assert(byId(1L).getInt(1) == 4 && byId(1L).getDouble(2) == 0.75)
    assert(byId(1L).getLong(3) == 3L && byId(1L).getDouble(4) == 1.0 &&
      byId(1L).getDouble(5) == round6(1.0 - 1.0 / 3.0))
    assert(byId(2L).getDouble(2) == 0.4)                       // 1 - 3/5
    assert(byId(2L).getLong(3) == 4L && byId(2L).getDouble(4) == 0.5 &&
      byId(2L).getDouble(5) == 0.25)                           // ab twice of 4; 3 distinct
    assert(byId(3L).getInt(1) == 1 && byId(3L).getLong(3) == 0L &&
      byId(3L).isNullAt(4) && byId(3L).isNullAt(5))
  }
  private def round6(x: Double): Double = math.rint(x * 1e6) / 1e6

  test("ngram decontamination drops docs EMBEDDING a benchmark quote; fingerprints cannot") {
    val phrase = "alpha beta gamma delta epsilon"   // the 5-gram to hunt
    val docs = Seq(
      (1L, s"leading words then $phrase and plenty of trailing context here"),
      (2L, "a completely clean document with enough words to form many grams"),
      (3L, phrase),                                  // exact benchmark text
      (4L, "short doc"),                             // < n words: no grams
      (5L, s"$phrase reworded so only the head overlaps the benchmark run")
    ).toDF("doc_id", "text")
    val bench = Seq(Tuple1(phrase)).toDF("text")
    val kept = TextOps.decontaminateNgrams(docs, bench, n = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L), s"survivors were $kept")
    // the whole-doc fingerprint pass keeps doc 1 and 5 — the embedded
    // quote is exactly what the n-gram level exists to catch
    val fpKept = TextOps.decontaminate(
      docs, TextOps.fingerprint(bench.select(lit(9L).as("doc_id"), col("text")))
        .select(col("fp_md5").as("fp")))
      .select("doc_id").as[Long].collect().toSet
    assert(fpKept == Set(1L, 2L, 4L, 5L), s"fingerprint pass dropped too much: $fpKept")
  }

  test("embedding dedup surfaces planted exact and near twins above the cosine floor") {
    val base = Tables.embeddings(spark, sf)
    // vec 498 := exact copy of vec 7; vec 499 := vec 7 + tiny nudge
    val src = base.filter(col("vec_id") === 7L).select(col("embedding").as("src"))
    val planted = base.crossJoin(broadcast(src))
      .withColumn("embedding",
        when(col("vec_id") === 498L, col("src"))
          .when(col("vec_id") === 499L, transform(col("src"), x => x + lit(0.0001f)))
          .otherwise(col("embedding")))
      .drop("src")
    val pairs = Dedup.embeddingDupPairs(planted, minCosine = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((7L, 498L)), s"exact twin missed: $pairs")
    assert(pairs.contains((7L, 499L)), s"near twin missed: $pairs")
    assert(pairs.contains((498L, 499L)), s"twin pair missed: $pairs")
  }

  test("decontamination drops exactly the blocklisted fingerprints") {
    val docs = Seq((1L, "keep one"), (2L, "drop me"), (3L, "keep two")).toDF("doc_id", "text")
    val block = TextOps.fingerprint(Seq((99L, "drop me")).toDF("doc_id", "text"))
      .select(col("fp_md5").as("fp"))
    val kept = TextOps.decontaminate(docs, block).collect().map(_.getLong(0))
    assert(kept.sameElements(Array(1L, 3L)))
  }

  test("compaction rewrites to the expected file count") {
    val path = "/tmp/graft_compacted"
    graft.operators.Layout.compact(Tables.lineitem(spark, sf), path, targetRowsPerFile = 2000)
    val files = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 3, s"expected 3 files for 6000 rows @2000, got $files")
    assert(spark.read.parquet(path).count() == Tables.lineitem(spark, sf).count())
  }

  test("size-based compaction needs no counting scan and preserves rows") {
    val li = Tables.lineitem(spark, sf)
    val target = 100L << 10 // 100 KiB
    val est = li.queryExecution.optimizedPlan.stats.sizeInBytes
    val expected = math.max(1, ((est + target - 1) / target).toInt)
    val path = "/tmp/graft_compacted_size"
    graft.operators.Layout.compactBySize(li, path, targetBytesPerFile = target)
    val files = new java.io.File(path).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == expected, s"expected $expected files from $est est. bytes, got $files")
    assert(spark.read.parquet(path).count() == li.count())
  }

  test("length buckets: batches stay in one bucket, fill to batchSize, waste is non-negative") {
    import org.apache.spark.sql.functions.{col, count, countDistinct, lit, max, sum}
    val docs = Tables.documents(spark, sf)
    val batched = graft.operators.Packing.lengthBuckets(
      docs, org.apache.spark.sql.functions.size(
        org.apache.spark.sql.functions.split(col("text"), " ")),
      bucketWidth = 16, batchSize = 8)
    // every doc batched exactly once
    assert(batched.count() == docs.count())
    val perBatch = batched.groupBy("bucket", "batch_in_bucket")
      .agg(count(lit(1)).as("n"), max("n_tokens").as("mx"),
        (count(lit(1)) * max("n_tokens") - sum("n_tokens")).as("waste"))
    assert(perBatch.filter(col("n") > 8).count() == 0, "overful batch")
    assert(perBatch.filter(col("waste") < 0).count() == 0, "negative padding waste")
    // all but the LAST batch of each bucket are exactly full
    val lastBatch = batched.groupBy("bucket")
      .agg(max("batch_in_bucket").as("last_b"))
    val partials = perBatch.join(lastBatch, "bucket")
      .filter(col("batch_in_bucket") < col("last_b") && col("n") =!= 8)
    assert(partials.count() == 0, "non-final batch not full")
    // bucket really bounds the token range: max-min < bucketWidth
    val spread = batched.groupBy("bucket")
      .agg((max("n_tokens") - org.apache.spark.sql.functions.min("n_tokens")).as("spread"))
      .filter(col("spread") >= 16)
    assert(spread.count() == 0, "bucket wider than bucketWidth")
    assert(batched.select(countDistinct("bucket")).head().getLong(0) > 1)
  }

  test("deterministic shuffle: dense permutation, portable order, no single-reducer rank") {
    import org.apache.spark.sql.functions.{col, md5, concat_ws, lit}
    val docs = Tables.documents(spark, sf).select("doc_id")
    val out = graft.operators.Sampling.deterministicShuffle(docs, salt = "e1")
    val n = docs.count()
    // positions are exactly 0..n-1 (dense, no dup, no gap)
    val pos = out.select("shuffle_pos").as[Long].collect().sorted
    assert(pos.toSeq == (0L until n).toSeq)
    // position order IS (md5 key, id) order
    val byPos = out.orderBy("shuffle_pos").select("doc_id").as[Long].collect().toSeq
    val byKey = docs.withColumn("k", md5(concat_ws("#", lit("e1"), col("doc_id").cast("string"))))
      .orderBy("k", "doc_id").select("doc_id").as[Long].collect().toSeq
    assert(byPos == byKey)
    // a different salt permutes differently
    val other = graft.operators.Sampling.deterministicShuffle(docs, salt = "e2")
      .orderBy("shuffle_pos").select("doc_id").as[Long].collect().toSeq
    assert(other != byPos)
    // the rank is bucketed: no single-partition window in the plan
    val plan = graft.operators.Sampling.deterministicShuffle(docs, salt = "e1")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"),
      "global rank collapsed to a single-reducer window")
  }

  test("int8 quantization: elements bounded, dequant error <= scale/2, cosine preserved, zero vector safe") {
    import org.apache.spark.sql.functions.{col, expr}
    val emb = Tables.embeddings(spark, sf)
    val q = graft.operators.Similarity.quantizeInt8(emb)
      .join(emb, "vec_id")
      .select(
        col("vec_id"), col("q_scale"), col("qvec"),
        col("embedding").cast("array<double>").as("e"))
    // every quantized element in [-127, 127]
    val outOfRange = q.filter(expr("exists(qvec, x -> x < -127 OR x > 127)")).count()
    assert(outOfRange == 0)
    // max |dequant - original| <= scale/2 + ulp
    val badErr = q.filter(expr(
      "exists(zip_with(qvec, e, (qi, xi) -> abs(qi * q_scale - xi)), d -> d > q_scale / 2 + 1e-9)"))
      .count()
    assert(badErr == 0, "dequantization error beyond scale/2")
    // cosine between dequantized and original stays ~1
    val worst = q.select(graft.operators.Similarity.cosine(
      expr("transform(qvec, x -> CAST(x * q_scale AS DOUBLE))"), col("e")).as("c"))
      .agg(org.apache.spark.sql.functions.min("c")).head().getDouble(0)
    assert(worst > 0.995, s"quantization destroyed cosine: $worst")
    // zero vector: scale 0, all-zero qvec, no NaN/null
    import spark.implicits._
    val z = graft.operators.Similarity
      .quantizeInt8(Seq((1L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding"))
      .head()
    assert(z.getDouble(1) == 0.0 && z.getSeq[Int](2) == Seq(0, 0, 0))
  }

  test("zorder: every file covers a small rectangle of BOTH dims; single-col sort does not") {
    import org.apache.spark.sql.functions.{col, max, min}
    val li = Tables.lineitem(spark, sf).select("l_orderkey", "l_partkey")
    val (lo1, hi1, lo2, hi2) = {
      val r = li.agg(min("l_orderkey"), max("l_orderkey"),
        min("l_partkey"), max("l_partkey")).head()
      (r.getLong(0).toDouble, r.getLong(1).toDouble,
        r.getLong(2).toDouble, r.getLong(3).toDouble)
    }
    // mean fraction of a column's global range that one FILE spans —
    // what parquet footer min/max pruning sees
    def coverage(path: String, c: String, lo: Double, hi: Double): Double = {
      val files = new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
      val spans = files.map { f =>
        val r = spark.read.parquet(f).agg(min(col(c)), max(col(c))).head()
        (r.getLong(1) - r.getLong(0)).toDouble / (hi - lo)
      }
      spans.sum / spans.length
    }
    val zPath = "/tmp/graft_zorder"
    val sPath = "/tmp/graft_singlesort"
    graft.operators.Layout.zorderBy(li, "l_orderkey", "l_partkey", zPath, numFiles = 8)
    li.repartitionByRange(8, col("l_orderkey")).sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(sPath)
    assert(spark.read.parquet(zPath).count() == li.count())
    val zC1 = coverage(zPath, "l_orderkey", lo1, hi1)
    val zC2 = coverage(zPath, "l_partkey", lo2, hi2)
    val sC2 = coverage(sPath, "l_partkey", lo2, hi2)
    // z-order skips on BOTH dims; the single-column sort leaves the
    // second dim unskippable (every file spans ~its whole range)
    assert(zC1 < 0.75, s"z-order file coverage on dim1 too wide: $zC1")
    assert(zC2 < 0.75, s"z-order file coverage on dim2 too wide: $zC2")
    assert(sC2 > 0.9, s"fixture broken: single-sort already narrow on dim2: $sC2")
    assert(zC2 < sC2 * 0.8, s"z-order no better than single sort: $zC2 vs $sC2")
  }

  test("quantile z-order prunes the dense region of a power-law column where min/max cannot") {
    import org.apache.spark.sql.functions.{col, max, min}
    // 90% of rows live in v < 100; stragglers stretch the range to 1e6.
    // Min/max bucketization maps the whole dense region to bucket 0.
    val skewed = spark.range(4000).select(
      when(pmod(col("id"), lit(10)) < 9, pmod(col("id"), lit(100)))
        .otherwise(pmod(col("id") * 7919, lit(1000000))).as("v"),
      pmod(col("id") * 31, lit(1000)).as("u"))
    val mPath = "/tmp/graft_zorder_minmax_skew"
    val qPath = "/tmp/graft_zorder_quantile_skew"
    graft.operators.Layout.zorderBy(skewed, "v", "u", mPath, numFiles = 16)
    graft.operators.Layout.zorderByQuantiles(skewed, "v", "u", qPath, numFiles = 16, bits = 6)
    assert(spark.read.parquet(qPath).count() == 4000, "quantile rewrite lost rows")
    // what parquet footer pruning sees: per-file v min/max, read once
    def spans(path: String): Seq[(Long, Long)] =
      new java.io.File(path).listFiles()
        .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath).toSeq
        .map { f =>
          val r = spark.read.parquet(f).agg(min(col("v")), max(col("v"))).head()
          (r.getLong(0), r.getLong(1))
        }
    val (mSpans, qSpans) = (spans(mPath), spans(qPath))
    val preds = Seq((10L, 20L), (40L, 50L), (80L, 90L))
    def touched(ss: Seq[(Long, Long)]): Int =
      preds.map { case (lo, hi) => ss.count(s => s._1 <= hi && s._2 >= lo) }.sum
    val (mTouched, qTouched) = (touched(mSpans), touched(qSpans))
    info(s"files touched by 3 dense-region predicates: minmax $mTouched, quantile $qTouched (16 files)")
    assert(qTouched < mTouched,
      s"quantile z-order no better than min/max on the dense region: $qTouched vs $mTouched")
    assert(qTouched <= mTouched / 2,
      s"quantile z-order should at least halve touched files: $qTouched vs $mTouched")
  }

  test("bucketTree assigns equi-depth buckets, nulls and ties included") {
    import spark.implicits._
    val bs = Array(10.0, 20.0, 30.0)
    val got = Seq(Some(5.0), Some(10.0), Some(15.0), Some(25.0), Some(99.0), None)
      .toDF("x")
      .select(when(col("x").isNull, lit(0L))
        .otherwise(graft.operators.Layout.bucketTree(col("x"), bs, 0, bs.length)).as("b"))
      .collect().map(_.getLong(0)).toSeq
    // boundary value 10.0 counts as AT the boundary -> bucket 1
    assert(got == Seq(0L, 1L, 1L, 2L, 3L, 0L), s"buckets were $got")
  }

  test("morton interleave round-trips bit positions") {
    import org.apache.spark.sql.functions.{col, lit}
    // a = 0b101 (bits 0,2), b = 0b011 (bits 0,1) interleave to
    // bits (2i for a): 0,4 ; (2i+1 for b): 1,3  -> 0b11011 = 27
    val z = spark.range(1)
      .select(graft.operators.Layout.mortonInterleave(lit(5L), lit(3L), 3).as("z"))
      .head().getLong(0)
    assert(z == 27L, s"expected 27, got $z")
  }

  test("multimodal meta stub is deterministic over byte length") {
    val d = Seq((1L, "abcd")).toDF("doc_id", "text")
    val r = Multimodal.decodeMeta(d).head()
    assert(r.getInt(1) == 4)          // n_bytes
    assert(r.getInt(2) == 5)          // width = 4 % 640 + 1
    assert(r.getInt(3) == 5)          // height
    assert(r.getInt(4) == 1)          // frames
  }

  test("triangles: K4 + pendant, duplicate and reversed edges canonicalize") {
    // K4 on 1..4 has exactly 4 triangles, each node in 3; the pendant
    // edge 4-5 joins no triangle so node 5 must be absent. Edges are
    // fed in mixed orientation with a duplicate to exercise the
    // canonicalization.
    val edges = Seq(
      (1L, 2L), (2L, 1L), (1L, 3L), (1L, 4L),
      (3L, 2L), (2L, 4L), (3L, 4L), (5L, 4L))
      .toDF("src", "dst")
    val out = graft.operators.Graph.triangles(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L), out.toString)
  }

  test("triangles: degree orientation matches id orientation on a skewed star+rim") {
    // hub 0 connects to rim 1..10, rim is a cycle: triangles are the
    // 10 (hub, i, i+1) fans. Hub degree 10 vs rim degree 3 — the
    // degree orientation points INTO the hub, which is exactly the
    // skew-defense; counts must still be the plain mathematical ones:
    // hub in 10 triangles, every rim node in 2 (one per adjacent fan...
    // rim node i sits in fans (i-1,i) and (i,i+1) -> 2, plus no rim-only
    // triangle since the cycle has length 10 > 3.
    val hub = (1 to 10).map(i => (0L, i.toLong))
    val rim = (1 to 10).map(i => (i.toLong, (i % 10 + 1).toLong))
    val out = graft.operators.Graph.triangles((hub ++ rim).toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out(0L) == 10L, out.toString)
    (1 to 10).foreach(i => assert(out(i.toLong) == 2L, out.toString))
  }

  test("chunk: overlap, tail kept once, short doc is one chunk") {
    val docs = Seq(
      (1L, "a b c d e f g"),   // 7 tokens: starts 0,2,4 (6 dropped: window at 4 reaches the end)
      (2L, "a b c d e f g h"), // 8 tokens: starts 0,2,4,6 (6 kept: prev window ends at 7 < 8)
      (3L, "x y"))             // shorter than size: single chunk
      .toDF("doc_id", "text")
    val out = graft.operators.TextOps.chunk(docs, size = 3, stride = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(out.toSeq == Seq(
      (1L, 0L, 3L, "a b c"), (1L, 2L, 3L, "c d e"), (1L, 4L, 3L, "e f g"),
      (2L, 0L, 3L, "a b c"), (2L, 2L, 3L, "c d e"), (2L, 4L, 3L, "e f g"),
      (2L, 6L, 2L, "g h"),
      (3L, 0L, 2L, "x y")), out.mkString(", "))
    // invariant on real data: chunks cover every token exactly
    // ceil-wise — total chunk tokens >= doc tokens, and the first
    // chunk of every doc starts at 0
    val real = graft.operators.TextOps.chunk(
      graft.tables.Tables.documents(spark, sf))
    val firsts = real.groupBy("doc_id")
      .agg(org.apache.spark.sql.functions.min("chunk_start").as("m"))
      .filter($"m" =!= 0L).count()
    assert(firsts == 0L)
  }

  test("editPairs: blocked levenshtein with exact distances") {
    val df = Seq(
      (1L, "red widget"), (2L, "red widget"),  // dist 0
      (3L, "red widgets"),                     // dist 1 from "red widget"
      (4L, "red gadget"),                      // dist 2 from "red widget" (w→g, i→a); dist 3 from "red widgets" — cut
      (5L, "blue widget"))                     // different block, never compared
      .toDF("id", "name")
    val out = graft.operators.Dedup.editPairs(
      df, org.apache.spark.sql.functions.element_at(
        org.apache.spark.sql.functions.split($"name", " "), 1),
      maxDist = 2, textCol = "name")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (1L, 2L, 0L), (1L, 3L, 1L), (1L, 4L, 2L),
      (2L, 3L, 1L), (2L, 4L, 2L)), out.mkString(", "))
  }

  test("rrfFuse: integer-exact fusion, absent ranks contribute zero") {
    val a = Seq((1L, 1), (2L, 2)).toDF("doc_id", "r")
    val b = Seq((2L, 1), (3L, 2)).toDF("doc_id", "r")
    val out = graft.operators.Search.rrfFuse(Seq("a" -> a, "b" -> b))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)), Option(r.get(3))))).toMap
    // 1000000 div 61 = 16393, div 62 = 16129
    assert(out(1L) == ((16393L, Some(1L), None)), out.toString)
    assert(out(2L) == ((16129L + 16393L, Some(2L), Some(1L))), out.toString)
    assert(out(3L) == ((16129L, None, Some(2L))), out.toString)
  }

  test("removeRepeatedSpans: planted shared span cut from the LATER doc only, singleton text verbatim") {
    import graft.operators.Dedup
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val span = words("shared", 60) // the planted 60-token span
    val docs = Seq(
      (1L, s"${words("a", 10)} $span ${words("atail", 5)}"),  // keeper (earliest)
      (2L, s"${words("b", 7)} $span ${words("btail", 9)}"),   // later: span cut
      (3L, words("solo", 80)),                                 // singleton: verbatim
      (4L, words("tiny", 20))                                  // shorter than k
    ).toDF("doc_id", "text")
    val out = Dedup.removeRepeatedSpans(docs, k = 50)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    // the keeper keeps its full text (token-identical; it was affected
    // by nothing, so it is byte-verbatim too)
    assert(out(1L)._1 == s"${words("a", 10)} $span ${words("atail", 5)}")
    assert(out(1L)._2 == 0L)
    // the later doc loses EXACTLY the 60 shared tokens, context kept
    assert(out(2L)._1 == s"${words("b", 7)} ${words("btail", 9)}", out(2L)._1)
    assert(out(2L)._2 == 60L)
    // untouched docs pass through verbatim
    assert(out(3L) == ((words("solo", 80), 0L)))
    assert(out(4L) == ((words("tiny", 20), 0L)))

    // a doc that IS the span (plus nothing) empties rather than drops
    val docs2 = Seq((1L, span), (2L, span)).toDF("doc_id", "text")
    val out2 = Dedup.removeRepeatedSpans(docs2, k = 50)
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out2(1L) == ((span, 0L)), "keeper must keep the only copy")
    assert(out2(2L) == (("", 60L)), "fully-duplicated doc empties, not drops")

    // within-doc repetition alone is NOT cut (cross-doc semantics)
    val docs3 = Seq((1L, s"$span $span")).toDF("doc_id", "text")
    val out3 = Dedup.removeRepeatedSpans(docs3, k = 50).collect()
    assert(out3.length == 1 && out3.head.getLong(2) == 0L,
      "single-doc repetition must not self-trigger")
  }

  test("htmlExtract: blocks drop with content, tags become boundaries, entities decode once") {
    import graft.operators.TextOps
    val html = Seq((1L,
      "<html><head><style>p{x:1}</style></head><body>" +
        "<!-- secret comment --><p>alpha</p><p>beta &amp;lt; &lt;gamma&gt;" +
        " &quot;d&quot; &#39;e&#39; &nbsp;f &amp; g</p>" +
        "<script>var WARC = \"</p>nope\";</script></body></html>"))
      .toDF("doc_id", "html")
    val got = TextOps.htmlExtract(html).select("text").head().getString(0)
    assert(got == "alpha beta &lt; <gamma> \"d\" 'e' f & g",
      s"got: $got")
    // tag removal must insert a word boundary, never glue words
    val glued = Seq((1L, "<p>one</p><p>two</p>")).toDF("doc_id", "html")
    assert(TextOps.htmlExtract(glued).select("text").head().getString(0) == "one two")
  }

  test("chatFormat: ordered segments, loss-mask spans cover exactly the masked content") {
    import graft.operators.Packing
    val turns = Seq(
      (1L, 1, "user", "hi"),
      (1L, 2, "assistant", "yo"),
      (1L, 3, "user", "ok"),
      (2L, 1, "user", "solo")) // no masked turn: empty span list
      .toDF("conv_id", "turn", "role", "content")
    val out = Packing.chatFormat(turns, "conv_id", Seq(col("turn")),
      "role", "content", maskRoles = Set("assistant"))
      .orderBy("conv").collect()
    val text1 = out(0).getAs[String]("text")
    assert(text1 ==
      "<|user|>hi<|end|><|assistant|>yo<|end|><|user|>ok<|end|>")
    val spans = out(0).getAs[scala.collection.Seq[org.apache.spark.sql.Row]]("mask_spans")
    assert(spans.length == 1)
    val (s0, e0) = (spans.head.getLong(0), spans.head.getLong(1))
    assert(text1.substring(s0.toInt, e0.toInt) == "yo",
      s"span [$s0,$e0) must cover exactly the masked content")
    assert(out(1).getAs[scala.collection.Seq[Any]]("mask_spans").isEmpty)
  }
}
