package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Checkpoints, Dedup, TextOps}
import graft.storage.TxLog

/** curate_corpus: the training-data curation user. One batch runs the
  * curation pipeline over a seed-generated corpus staged as a TxLog
  * table: exact dedup, MinHash near-dup pairs, connected components,
  * keep-best election, boilerplate stripping with a quality filter,
  * and semantic dedup over embeddings. Each stage ends in its own
  * action. The 10,000-document corpus (12 MB of text and embeddings)
  * keeps executors busy for most of a batch's wall, but most join
  * sides still fall under Spark's 10 MB broadcast threshold after
  * filtering, so AQE broadcasts them (the traced run prints the
  * physical join counts).
  *
  * The corpus follows ScaleCheck100's controlled-overlap idea so pair
  * output stays linear: documents are drawn from a 40k-word seeded
  * vocabulary (unrelated documents share almost no word bigrams) and
  * every planted relation is explicit — exact-copy families, near-dup
  * twins (first word changed: bigram Jaccard at least 58/60, so MinHash
  * misses a pair with probability below 1e-7), semantic
  * groups (one shared embedding), short low-quality documents and
  * a shared footer. Every stage's kept count follows from the plan. */
final class CurateCorpus(seed: Long, spark: SparkSession) extends Workload {
  val name = "curate_corpus"
  private val rng = new Rng(seed)
  private val Words = 60
  private val Dim = 48
  private val Vocab = 40000

  private val Cons = "bcdfghjklmnprstvz"
  private val Vow = "aeiou"
  private val vocab = Array.tabulate(Vocab) { w =>
    (0 until 3 + rng.below(2, 1, w)).map { s =>
      s"${Cons(rng.below(Cons.length, 2, w, s))}${Vow(rng.below(Vow.length, 3, w, s))}"
    }.mkString + Cons(rng.below(Cons.length, 4, w))
  }
  private val footer = (0 until 6).map(j => vocab(rng.below(Vocab, 5, j))).mkString(" ")

  private sealed trait Kind
  private case class Exact(f: Int, copy: Int) extends Kind
  private case class Twin(f: Int, twin: Boolean) extends Kind
  private case class Sem(g: Int, m: Int) extends Kind
  private case class Low(q: Int) extends Kind
  private case class Single(s: Int) extends Kind

  /** One generated corpus: `exact` families of 3 identical documents,
    * `twins` near-identical pairs, `sem` groups of 3 documents sharing
    * one embedding, `low` 5-word documents, singletons for the rest.
    * Doc ids are a seeded permutation of the plan's slots. */
  private final class Corpus(val tag: Int, val n: Int, exact: Int, val twins: Int,
                             sem: Int, low: Int) {
    val slots: IndexedSeq[Kind] =
      (for (f <- 0 until exact; c <- 0 until 3) yield Exact(f, c)) ++
      (for (f <- 0 until twins; t <- Seq(false, true)) yield Twin(f, t)) ++
      (for (g <- 0 until sem; m <- 0 until 3) yield Sem(g, m)) ++
      (0 until low).map(Low) ++
      (0 until n - 3 * exact - 2 * twins - 3 * sem - low).map(Single)
    val ids: Array[Long] =
      slots.indices.sortBy(i => rng.long(6, tag, i)).zipWithIndex
        .sortBy(_._1).map(_._2.toLong + 1).toArray

    private def words(kind: Long, a: Long, k: Int): Seq[String] =
      (0 until k).map(j => vocab(rng.below(Vocab, 7, tag, kind, a, j)))
    private def hasFooter(kind: Long, a: Long): Boolean = rng.below(10, 8, tag, kind, a) < 3
    private def body(kind: Long, a: Long): String = {
      val t = words(kind, a, Words).mkString(" ")
      if (hasFooter(kind, a)) s"$t $footer" else t
    }
    def text(k: Kind): String = k match {
      case Exact(f, _) => body(1, f)
      case Twin(f, false) => body(2, f)
      case Twin(f, true) =>
        // the first word gains a 'q', a letter no vocabulary word has:
        // the twin never equals its original, and only one bigram differs
        val w = words(2, f, Words)
        val t = ((w.head + "q") +: w.tail).mkString(" ")
        if (hasFooter(2, f)) s"$t $footer" else t
      case Sem(g, m) => body(3, g * 3 + m)
      case Low(q) => words(4, q, 5).mkString(" ")
      case Single(s) => body(5, s)
    }
    /** Members of a semantic group share one embedding exactly: a
      * perturbed copy could straddle a k-means cell boundary, and the
      * cell is semantic dedup's blocking unit, so its kept count would
      * no longer follow from the plan. */
    def embedding(k: Kind, slot: Int): Array[Double] = {
      val (kind, a) = k match {
        case Sem(g, _) => (3L, g.toLong)
        case _ => (9L, slot.toLong)
      }
      val v = Array.tabulate(Dim)(d => rng.unit(10, tag, kind, a, d) * 2 - 1)
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => BigDecimal(x / norm).setScale(9, BigDecimal.RoundingMode.HALF_EVEN).toDouble)
    }

    // expected figures of one batch
    val afterExact = n - 2 * exact
    val afterKeepBest = afterExact - twins
    val afterQuality = afterKeepBest - low
    val afterSemantic = afterQuality - 2 * sem
    /** Survivors of exact and near dedup carrying the footer. */
    val footerSurvivors: Int =
      (0 until exact).count(f => hasFooter(1, f)) +
        (0 until twins).count(f => hasFooter(2, f)) +
        (0 until sem * 3).count(a => hasFooter(3, a)) +
        slots.collect { case Single(s) => s }.count(s => hasFooter(5, s))
    val twinPairSum: Long = slots.indices.collect { case i if slots(i).isInstanceOf[Twin] =>
      slots(i).asInstanceOf[Twin].f -> ids(i) }.groupBy(_._1).values
      .map { v => val a = v.map(_._2); a.min * 1000003L + a.max }.sum
    val exactKeepSum: Long = slots.indices.groupBy(i => slots(i) match {
      case Exact(f, _) => s"e$f"
      case _ => s"s$i"
    }).values.map(g => g.map(ids(_)).min).sum
  }

  /** The measured corpus, and a small one of the same make-up whose
    * batch is the warm pass (JIT, codegen and Spark's caches warm up
    * without paying a full batch per set-up). */
  private val full = new Corpus(0, 10000, 380, 620, 380, 250)
  private val small = new Corpus(1, 600, 23, 38, 23, 15)

  private var digest: InputDigest = _
  private var root: String = _
  private def table(c: Corpus) = s"$root/lake/corpus${c.tag}"
  def inputs: Inputs = digest.result

  def stage(r: String, h: Harness): Unit = {
    root = r
    digest = new InputDigest
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("embedding", ArrayType(DoubleType))))
    Seq(full, small).foreach { c =>
      val rows = c.slots.indices.map { i =>
        val t = c.text(c.slots(i))
        val e = c.embedding(c.slots(i), i)
        digest.line(s"corpus${c.tag}", s"${c.ids(i)}\t$t\t${e.mkString(",")}")
        Row(c.ids(i), t, e.toSeq)
      }
      TxLog.create(spark.createDataFrame(spark.sparkContext.parallelize(rows, 8), schema),
        table(c))
    }
  }

  def warm(h: Harness): Unit = batch(h, small)

  def step(h: Harness): Unit = batch(h, full)

  private def stage[T](h: Harness, name: String)(f: => T): T = h.call("bench", s"stage:$name")(f)
  private def cut(h: Harness, df: DataFrame): DataFrame = h.action("cut")(Checkpoints.cut(df))
  private def one(h: Harness, df: DataFrame): Row = {
    val r = h.action("collect")(df.collect())
    h.returned(r.length)
    r.head
  }

  private def batch(h: Harness, c: Corpus): Unit = h.op("batch") {
    val docs = h.call("storage", "TxLog.read")(TxLog.read(spark, table(c)))
    val s1 = stage(h, "exact") {
      val ex = cut(h, h.call("operators", "Dedup.exact")(Dedup.exact(docs)))
      val r = one(h, ex.agg(count(lit(1)), sum("n_copies"), sum("keep_id")))
      h.expect("exact groups", (r.getLong(0), r.getLong(1), r.getLong(2)),
        (c.afterExact.toLong, c.n.toLong, c.exactKeepSum))
      cut(h, docs.join(ex.select(col("keep_id").as("doc_id")), "doc_id"))
    }
    val pairs = stage(h, "minhash") {
      val p = cut(h, h.call("operators", "Dedup.ngramJaccard")(
        Dedup.ngramJaccard(s1, shingleK = 2, minJaccard = 0.8).select("doc_a", "doc_b")))
      val r = one(h, p.agg(count(lit(1)), sum(col("doc_a") * 1000003L + col("doc_b"))))
      h.expect("near-dup pairs", (r.getLong(0), r.getLong(1)),
        (c.twins.toLong, c.twinPairSum))
      p
    }
    val comps = stage(h, "components") {
      val labels = h.call("operators", "Dedup.components")(Dedup.components(pairs))
      val r = one(h, labels.agg(count(lit(1)), countDistinct("component")))
      h.expect("components", (r.getLong(0), r.getLong(1)), (2L * c.twins, c.twins.toLong))
      labels
    }
    val s2 = stage(h, "keep_best") {
      val best = h.call("operators", "Dedup.electBest") {
        val q = TextOps.quality(s1).select(col("doc_id"), col("avg_wlen").as("quality"))
        Dedup.electBest(pairs, q)
      }
      val losers = comps.select("doc_id")
        .join(best.select(col("survivor").as("doc_id")), Seq("doc_id"), "left_anti")
      val kept = cut(h, s1.join(losers, Seq("doc_id"), "left_anti"))
      val r = one(h, kept.agg(count(lit(1))))
      h.expect("after keep_best", r.getLong(0), c.afterKeepBest.toLong)
      kept
    }
    val s3 = stage(h, "quality") {
      val stripped = cut(h, h.call("operators", "TextOps.stripBoilerplate")(
        TextOps.stripBoilerplate(s2)))
      val q = h.call("operators", "TextOps.quality")(
        TextOps.quality(stripped.select(col("doc_id"), col("clean_text").as("text"))))
      val r = one(h, stripped.join(q, "doc_id").agg(
        sum(when(col("boilerplate_frac") > 0, 1).otherwise(0)),
        sum(when(col("n_words") >= 10, 1).otherwise(0))))
      h.expect("boilerplate/quality", (r.getLong(0), r.getLong(1)),
        (c.footerSurvivors.toLong, c.afterQuality.toLong))
      cut(h, s2.select("doc_id", "embedding")
        .join(q.filter(col("n_words") >= 10).select("doc_id"), "doc_id"))
    }
    stage(h, "semantic") {
      val sd = h.call("operators", "Dedup.semanticDedup")(Dedup.semanticDedup(
        s3.select(col("doc_id").as("vec_id"), col("embedding"))))
      val r = one(h, sd.agg(count(lit(1)), sum(when(col("keep"), 1).otherwise(0))))
      h.expect("semantic", (r.getLong(0), r.getLong(1)),
        (c.afterQuality.toLong, c.afterSemantic.toLong))
    }
    // the batch's materialized stage outputs are released with it
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  def report(h: Harness): Report = {
    val walls = h.ops.map(_.wallMs).toSeq
    val docs = full.n.toDouble * h.ops.count(_.ok)
    Report(_ => true, docs / (walls.sum / 1000), Seq(
      Metric("curate_docs_per_s", docs / (walls.sum / 1000), "1/s", walls.size),
      Metric("batch_p50_ms", Stats.median(walls), "ms", walls.size)))
  }

  override def layerExtras(h: Harness): Map[String, Double] = {
    val docs = TxLog.read(spark, table(full))
    val s1 = docs.join(Dedup.exact(docs).select(col("keep_id").as("doc_id")), "doc_id")
    val candidates = Dedup.minhashCandidates(s1).count()
    Storage.state(spark, table(full), Seq(table(full))) +
      ("operators.lsh_verified_per_candidate" -> full.twins.toDouble / math.max(1L, candidates))
  }
}
