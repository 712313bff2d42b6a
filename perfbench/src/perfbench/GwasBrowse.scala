package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gwas.{GwasOps, GwasViews}
import graft.storage.{Catalog, TxLog}

/** gwas_browse: the gwasDB Shiny/dbplyr analyst. A synthetic warehouse
  * (`b37`, `marker`, `study`, `gwas`) is staged as TxLog tables over a
  * few dozen commits; then one client sends browse requests in a
  * closed loop, each resolving a fresh snapshot. Results are small, so
  * latency is set by fixed per-request cost: planning, snapshot replay
  * and job dispatch.
  *
  * Every answer is known from the generator: markers come from the
  * seeded [[Markers]] map and study s carries nine markers in ten, the
  * tenth picked from the seed. */
final class GwasBrowse(seed: Long, spark: SparkSession) extends Workload {
  val name = "gwas_browse"
  private val rng = new Rng(seed)
  private val Chrs = 4
  private val M = 600
  private val S = 12
  private val Ancestries = Array("EUR", "EAS", "AFR", "AMR", "SAS")

  private val markerMap = new Markers(rng, Chrs, M)
  private val pos = markerMap.pos
  private def ref(c: Int, i: Int) = markerMap.ref(c, i)
  private def alt(c: Int, i: Int) = markerMap.alt(c, i)
  private val kgp = Array.tabulate(Chrs + 1, M)((c, i) => markerMap.kgp(c, i))
  private def alias(c: Int, i: Int): Option[String] =
    if (i % 3 == 0) Some(s"rs${c * 1000000L + i + rng.below(3, 4, c, i)}") else None

  /** Study s skips every tenth marker of a chromosome, from a seeded
    * offset: row counts are the same for every seed. */
  private def has(s: Int, c: Int, i: Int): Boolean = (i + rng.below(10, 6, s, c)) % 10 != 0
  private def impute(s: Int, c: Int, i: Int): Double = 0.2 + 0.8 * rng.unit(7, s, c, i)
  private def nlp(s: Int, c: Int, i: Int): Double = -math.log10(1e-12 + rng.unit(8, s, c, i))
  private def ancestry(s: Int): String = Ancestries(rng.below(5, 5, s))
  private def studySize(s: Int): Long = 1000L + rng.below(50000, 12, s)

  private val gwasSchema = StructType(Seq(
    StructField("kgp_id", StringType), StructField("study_id", IntegerType),
    StructField("a1", StringType), StructField("a2", StringType),
    StructField("stat", DoubleType), StructField("se", DoubleType),
    StructField("neg_log10_p", DoubleType), StructField("impute_score", DoubleType),
    StructField("maf_all", DoubleType), StructField("chr", IntegerType)))

  private def gwasRow(s: Int, c: Int, i: Int): Row = Row(kgp(c)(i), s,
    alt(c, i), ref(c, i), rng.unit(9, s, c, i) * 8 - 4, 0.01 + rng.unit(10, s, c, i),
    nlp(s, c, i), impute(s, c, i), 0.5 * rng.unit(11, s, c, i), c)

  private var digest: InputDigest = _
  private var root: String = _
  private def path(t: String) = s"$root/lake/$t"
  /** Expected top hits per study, ordered as the query orders them. */
  private var topHits: Map[Int, Seq[String]] = Map.empty

  def inputs: Inputs = digest.result

  def stage(r: String, h: Harness): Unit = {
    root = r
    spark.conf.set("graft.catalog.warehouse", s"$root/lake")
    digest = new InputDigest
    val b37Rows = for (c <- 1 to Chrs; i <- 0 until M) yield {
      digest.line("b37", s"${kgp(c)(i)}\t$c\t${pos(c)(i)}\t${ref(c, i)}\t${alt(c, i)}")
      Row(kgp(c)(i), c, pos(c)(i), ref(c, i), alt(c, i))
    }
    val markerRows = for (c <- 1 to Chrs; i <- 0 until M; a <- alias(c, i)) yield {
      digest.line("marker", s"${kgp(c)(i)}\t$a")
      Row(kgp(c)(i), a)
    }
    val studyRows = (1 to S).map { s =>
      val anc = ancestry(s)
      val n = studySize(s)
      digest.line("study", s"$s\tstudy_$s\t$anc\t$n")
      Row(s, s"study_$s", anc, "y ~ g + pc1 + pc2", "2020-01-01", n,
        n / 2, n - n / 2, true, "HRC", false)
    }
    val b37Schema = StructType(Seq(StructField("kgp_id", StringType),
      StructField("chr", IntegerType), StructField("pos", IntegerType),
      StructField("ref", StringType), StructField("alt", StringType)))
    val studySchema = StructType(Seq(StructField("id", IntegerType),
      StructField("name", StringType), StructField("ancestry", StringType),
      StructField("model_formula", StringType), StructField("gwas_date", StringType),
      StructField("n", LongType), StructField("n_case", LongType),
      StructField("n_control", LongType), StructField("imputed", BooleanType),
      StructField("impute_ref_panel", StringType), StructField("summary_only", BooleanType)))
    def df(rows: Seq[Row], schema: StructType) =
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
    TxLog.create(df(b37Rows, b37Schema).repartition(col("chr")), path("b37"), Some("chr"))
    TxLog.create(df(markerRows, StructType(Seq(StructField("kgp_id", StringType),
      StructField("marker_name", StringType)))).coalesce(1), path("marker"))
    TxLog.create(df(studyRows, studySchema).coalesce(1), path("study"))
    // one commit per study: the gwas table's version count crosses
    // the snapshot checkpoint interval, so reads replay real chains
    (1 to S).foreach { s =>
      val rows = for (c <- 1 to Chrs; i <- 0 until M if has(s, c, i)) yield {
        val r = gwasRow(s, c, i)
        digest.line("gwas", r.mkString("\t"))
        r
      }
      val part = df(rows, gwasSchema).repartition(col("chr"))
      if (s == 1) TxLog.create(part, path("gwas"), Some("chr"))
      else TxLog.append(part, path("gwas"))
    }
    Seq("b37", "marker", "study", "gwas").foreach(t => Catalog.register(spark, t, path(t)))
    topHits = (1 to S).map { s =>
      s -> (for (c <- 1 to Chrs; i <- 0 until M if has(s, c, i))
        yield (nlp(s, c, i), kgp(c)(i)))
        .sortBy { case (p, k) => (-p, k) }.take(10).map { case (p, k) => s"$k|$p" }
    }.toMap
  }

  /** Two rounds of the mix; staging has already run most of the
    * read path's Spark jobs once. */
  def warm(h: Harness): Unit =
    Seq.fill(2)(Kinds).flatten.zipWithIndex.foreach { case (k, i) => runRequest(h, k, -1 - i) }

  /** The request kinds: app.R's query surface (region, marker search,
    * locus window, combined-view plot, study catalog) plus top hits
    * per study and chr counts. No measured request mix of gwasDB's
    * users exists, so a round sends each kind once, in an order drawn
    * from the seed, and one step of the closed loop is one round: every
    * kind weighs the same and every run holds whole rounds. */
  private val Kinds = Seq("region", "locus", "marker_search", "combined_region",
    "study_catalog", "top_hits", "chr_counts")
  /** app.R's locus plot spans ±10 kb of the chosen marker, which is
    * also `GwasOps.locusWindow`'s default; app.R's region queries take
    * the user's bounds, for which the same 20 kb span is used. */
  private val RegionSpan = 20000
  private var n = 0

  def step(h: Harness): Unit =
    Kinds.zipWithIndex.sortBy { case (_, i) => rng.long(20, n, i) }.foreach { case (k, _) =>
      runRequest(h, k, n)
      n += 1
    }

  /** Index range of chromosome c's markers with pos in [lo, hi]. */
  private def window(c: Int, lo: Int, hi: Int): Range = {
    val p = pos(c)
    val a = java.util.Arrays.binarySearch(p, lo)
    val b = java.util.Arrays.binarySearch(p, hi)
    val from = if (a >= 0) a else -a - 1
    val to = if (b >= 0) b + 1 else -b - 1
    from until to
  }

  private def unordered(rows: Iterable[String]): (Int, Long) =
    (rows.size, Stats.rowsChecksum(rows))
  private def ordered(rows: Seq[String]): (Int, Int) =
    (rows.size, MurmurHash3.orderedHash(rows))

  private def combinedRows(c: Int, idx: Range, studies: Seq[Int]): Seq[String] =
    for (i <- idx; s <- studies if has(s, c, i) && impute(s, c, i) >= 0.3)
      yield s"${kgp(c)(i)}|$s"

  private def read(h: Harness, t: String): DataFrame =
    h.call("storage", "TxLog.read")(TxLog.read(spark, path(t)))

  private def runRequest(h: Harness, kind: String, k: Int): Unit = {
    val c = 1 + rng.below(Chrs, 21, k)
    val i0 = rng.below(M, 22, k)
    kind match {
      case "region" =>
        val lo = pos(c)(i0)
        val hi = lo + RegionSpan
        val want = unordered(window(c, lo, hi).map(i =>
          s"${kgp(c)(i)}|$c|${pos(c)(i)}|${ref(c, i)}|${alt(c, i)}"))
        h.op(kind) {
          val q = h.call("operators", "GwasOps.regionQuery")(
            GwasOps.regionQuery(read(h, "b37"), c, lo, hi))
          val got = h.action("collect")(q.collect())
          h.returned(got.length)
          h.expect(kind, unordered(got.map(r => s"${r.getString(0)}|${r.getInt(1)}|" +
            s"${r.getInt(2)}|${r.getString(3)}|${r.getString(4)}")), want)
        }
      case "locus" =>
        val p0 = pos(c)(i0)
        val want = unordered(combinedRows(c, window(c, p0 - RegionSpan / 2,
          p0 + RegionSpan / 2), 1 to S))
        h.op(kind) {
          val b37 = read(h, "b37")
          val q = h.call("operators", "GwasOps.locusWindow") {
            val combined = GwasOps.combinedView(read(h, "gwas").drop("chr"), b37,
              read(h, "study"))
            GwasOps.locusWindow(combined, b37, kgp(c)(i0)).select("kgp_id", "study_id")
          }
          val got = h.action("collect")(q.collect())
          h.returned(got.length)
          h.expect(kind, unordered(got.map(r => s"${r.getString(0)}|${r.getInt(1)}")), want)
        }
      case "marker_search" =>
        val prefix = s"$c:${pos(c)(i0).toString.take(3)}"
        val re = ("^" + prefix).r
        val want = ordered(for (i <- 0 until M if re.findFirstIn(kgp(c)(i)).isDefined)
          yield s"${kgp(c)(i)}|$c|${pos(c)(i)}")
        h.op(kind) {
          val got = h.action("collect")(spark.sql(
            s"SELECT kgp_id, chr, pos FROM graft.b37 WHERE kgp_id RLIKE '^$prefix' " +
              "ORDER BY chr, pos").collect())
          h.returned(got.length)
          h.expect(kind, ordered(got.toSeq.map(r =>
            s"${r.getString(0)}|${r.getInt(1)}|${r.getInt(2)}")), want)
        }
      case "combined_region" =>
        // app.R's plot query: a region plus the studies the user picked
        val lo = pos(c)(i0)
        val hi = lo + RegionSpan
        val studies = (1 to S).sortBy(s => rng.long(24, k, s)).take(3).sorted
        val want = unordered(combinedRows(c, window(c, lo, hi), studies))
        val names = studies.map(s => s"'study_$s'").mkString(", ")
        h.op(kind) {
          h.call("operators", "GwasViews.register")(GwasViews.register(spark,
            read(h, "b37"), read(h, "marker"), read(h, "study"),
            read(h, "gwas").drop("chr")))
          val got = h.action("collect")(spark.sql(
            s"${GwasViews.regionSql(c, lo, hi)} AND name IN ($names)")
            .select("kgp_id", "study_id").collect())
          h.returned(got.length)
          h.expect(kind, unordered(got.map(r => s"${r.getString(0)}|${r.getInt(1)}")), want)
        }
      case "study_catalog" =>
        val want = (1 to S).map(s => s"$s|study_$s|${ancestry(s)}|${studySize(s)}")
        h.op(kind) {
          val got = h.action("collect")(spark.sql(
            "SELECT id, name, ancestry, n FROM graft.study ORDER BY id").collect())
          h.returned(got.length)
          h.expect(kind, got.toSeq.map(r =>
            s"${r.getInt(0)}|${r.getString(1)}|${r.getString(2)}|${r.getLong(3)}"), want)
        }
      case "top_hits" =>
        val s = 1 + rng.below(S, 23, k)
        val want = ordered(topHits(s))
        h.op(kind) {
          val got = h.action("collect")(spark.sql(
            s"SELECT kgp_id, neg_log10_p FROM graft.gwas WHERE study_id = $s " +
              "ORDER BY neg_log10_p DESC, kgp_id LIMIT 10").collect())
          h.returned(got.length)
          h.expect(kind, ordered(got.toSeq.map(r => s"${r.getString(0)}|${r.getDouble(1)}")),
            want)
        }
      case "chr_counts" =>
        val want = (1 to Chrs).map(c => s"$c|$M")
        h.op(kind) {
          val q = h.call("operators", "GwasOps.chrCounts")(GwasOps.chrCounts(read(h, "b37")))
          val got = h.action("collect")(q.collect())
          h.returned(got.length)
          h.expect(kind, got.toSeq.map(r => s"${r.getInt(0)}|${r.getLong(1)}"), want)
        }
    }
  }

  def report(h: Harness): Report = {
    val walls = h.ops.map(_.wallMs).toSeq
    val perKind = Kinds.map { k =>
      val w = h.ops.filter(_.kind == k).map(_.wallMs).toSeq
      Metric(s"${k}_p50_ms", Stats.median(w), "ms", w.size)
    }
    // requests per second at the round's mix, from each kind's mean
    // wall: independent of where the time limit cuts a round
    val meanWall = Kinds.map { k =>
      val w = h.ops.filter(_.kind == k).map(_.wallMs)
      if (w.isEmpty) 0.0 else w.sum / w.size
    }.sum / Kinds.size
    Report(_ => true, 1000 / meanWall,
      Seq(Metric("browse_p50_ms", Stats.median(walls), "ms", walls.size),
        Stats.tailMetric("browse_tail_ms", walls)) ++ perKind)
  }

  override def layerExtras(h: Harness): Map[String, Double] =
    Storage.state(spark, path("gwas"), Seq(path("b37"), path("marker"),
      path("study"), path("gwas")))
}
