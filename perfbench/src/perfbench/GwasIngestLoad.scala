package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.gwas.{GwasIngest, GwasOps}
import graft.storage.TxLog

/** gwas_ingest: the gwasDB ETL with one writer. Each study arrives as
  * two seed-generated TSVs (the impute-info file and the association
  * output); one load reads them through `GwasIngest.readMfi`, resolves
  * marker ids, derives `neg_log10_p`/`maf_all`, QC-splits, and appends
  * the kept rows to `gwas` and the removed pairs to `no_gwas_result`.
  * Between loads the writer corrects rows of an earlier study
  * (`mergeInto`), retracts rows that fail a tightened QC bar
  * (`deleteWhere` with deletion vectors), reads back after every commit
  * and reads the change feed, each once every [[Cadence]] loads, so
  * most of a run's wall goes to loads, whose median is the run's
  * headline figure.
  *
  * Every read is checked against an in-memory model of the table at
  * exactly the version the read resolved; the change feed against the
  * model's net change since the previous feed read. */
/** One `gwas` row as the writer's model holds it. */
private final case class GRow(kgp: String, study: Int, a1: String, a2: String,
                              stat: Double, se: Double, nlp: Double,
                              impute: Double, maf: Double, geno: String, chr: Int)

final class GwasIngestLoad(seed: Long, spark: SparkSession) extends Workload {
  val name = "gwas_ingest"
  private val rng = new Rng(seed)
  private val Chrs = 4
  private val M = 600
  private val Pool = 24
  /** Loads per merge, per delete and per change-feed read. */
  private val Cadence = 8

  private val markerMap = new Markers(rng, Chrs, M)
  private val pos = markerMap.pos
  private def ref(c: Int, i: Int) = markerMap.ref(c, i)
  private def alt(c: Int, i: Int) = markerMap.alt(c, i)
  private def kgp(c: Int, i: Int) = markerMap.kgp(c, i)
  private def rs(c: Int, i: Int): Option[String] =
    if (i % 4 == 0) Some(s"rs${c * 1000000L + i + rng.below(4, 4, c, i)}") else None

  private val AssocSchema = StructType(Seq(
    StructField("snp_id", StringType), StructField("a1", StringType),
    StructField("a2", StringType), StructField("stat", DoubleType),
    StructField("se", DoubleType), StructField("p", DoubleType),
    StructField("geno_all", StringType)))
  private val GwasSchema = StructType(Seq(
    StructField("kgp_id", StringType), StructField("study_id", IntegerType),
    StructField("a1", StringType), StructField("a2", StringType),
    StructField("stat", DoubleType), StructField("se", DoubleType),
    StructField("neg_log10_p", DoubleType), StructField("impute_score", DoubleType),
    StructField("maf_all", DoubleType), StructField("geno_all", StringType),
    StructField("chr", IntegerType)))

  /** Study k's rows: (mfi line, assoc line, resulting row, QC fails). */
  private def study(k: Int): Seq[(String, String, GRow, Boolean)] =
    for (c <- 1 to Chrs; i <- 0 until M if (i + rng.below(10, 5, k, c)) % 10 != 0) yield {
      val id = kgp(c, i)
      val named = rs(c, i)
      val suffix = if (named.isEmpty && rng.below(20, 6, k, c, i) == 0) ",2" else ""
      val cpa = named.getOrElse(id + suffix)
      val snp = named.getOrElse(id)
      val info = 0.25 + 0.75 * rng.unit(7, k, c, i)
      val p = 1e-12 + rng.unit(8, k, c, i)
      val stat = rng.unit(9, k, c, i) * 8 - 4
      val se = 0.01 + rng.unit(10, k, c, i)
      val geno =
        if (rng.below(33, 11, k, c, i) == 0) s"0/0/${400 + rng.below(200, 12, k, c, i)}"
        else s"${rng.below(300, 13, k, c, i)}/${1 + rng.below(300, 14, k, c, i)}/" +
          s"${rng.below(300, 15, k, c, i)}"
      val g = geno.split("/").map(_.toDouble)
      val maf = (g(1) + 2.0 * g(0)) / (2.0 * (g(0) + g(1) + g(2)))
      val row = GRow(id, k, alt(c, i), ref(c, i), stat, se, -math.log10(p), info, maf,
        geno, c)
      (s"$cpa\t$snp\t${pos(c)(i)}\t${ref(c, i)}\t${alt(c, i)}\t${0.5 * rng.unit(16, k, c, i)}" +
        s"\t${alt(c, i)}\t$info",
        s"$snp\t${alt(c, i)}\t${ref(c, i)}\t$stat\t$se\t$p\t$geno",
        row, info < 0.3 || maf < 1e-4)
    }

  private var digest: InputDigest = _
  private var root: String = _
  private def path(t: String) = s"$root/lake/$t"
  private def inbox(kind: String, k: Int) = s"$root/inbox/${kind}_$k.tsv"

  // the writer's model of `gwas` and `no_gwas_result`
  private val model = mutable.Map[(String, Int), GRow]()
  private val removed = mutable.Map[Int, Set[String]]()
  private var version = 0L
  private var feedFrom = 0L
  private val touched = mutable.Map[(String, Int), Option[GRow]]()
  private var nextStudy = 0
  private val studyBytes = mutable.Map[Int, Long]()
  private val studyRows = mutable.Map[Int, Int]()
  // loop accounting for the named metrics
  private var loadedBytes = 0L
  private var loadedRows = 0L
  private var lakeAtStart = 0L
  // every merge commit, the warm pass's included: a run's window may
  // hold none
  private val merges = mutable.ArrayBuffer[(Long, Int)]()

  def inputs: Inputs = digest.result

  private def writeStudy(k: Int, d: Option[InputDigest]): Unit = {
    val rows = study(k)
    d.foreach(x => rows.foreach { r => x.line("mfi", r._1); x.line("assoc", r._2) })
    studyBytes(k) = Files.write(inbox("mfi", k), rows.iterator.map(_._1)) +
      Files.write(inbox("assoc", k), rows.iterator.map(_._2))
    studyRows(k) = rows.size
  }

  def stage(r: String, h: Harness): Unit = {
    root = r
    digest = new InputDigest
    val markerLines = for (c <- 1 to Chrs; i <- 0 until M) yield
      s"${kgp(c, i)}\t${rs(c, i).getOrElse(kgp(c, i))}\t$c\t${pos(c)(i)}\t${ref(c, i)}\t${alt(c, i)}"
    markerLines.foreach(digest.line("markers", _))
    Files.write(s"$root/inbox/markers.tsv", markerLines.iterator)
    (0 until Pool).foreach(k => writeStudy(k, Some(digest)))
    val markers = GwasIngest.readMarkerFile(spark, s"$root/inbox/markers.tsv")
    TxLog.create(GwasIngest.b37Table(markers).repartition(col("chr")), path("b37"), Some("chr"))
    TxLog.create(GwasIngest.markerTable(markers).coalesce(1), path("marker"))
    // study 0 creates both tables; every later study appends
    val (kept0, removed0) = pipeline(h, 0)
    TxLog.create(kept0, path("gwas"), Some("chr"))
    TxLog.create(removed0.coalesce(1), path("no_gwas_result"))
    applyLoad(0)
    version = 1L
    feedFrom = 1L
    touched.clear()
    nextStudy = 1
  }

  /** Three loads, the first with every interleaved operation: with
    * fewer, the first measured loads still run while the JIT warms. */
  def warm(h: Harness): Unit = {
    cycle(h, forceAll = true)
    (0 until 2).foreach(_ => cycle(h, forceAll = false))
    lakeAtStart = lakeBytes
  }

  private def lakeBytes: Long =
    Files.sizeUnder(path("gwas")) + Files.sizeUnder(path("no_gwas_result"))

  private def read(h: Harness, t: String): DataFrame =
    h.call("storage", "TxLog.read")(TxLog.read(spark, path(t)))

  /** TSV → resolved, derived, QC-split frames for study k. */
  private def pipeline(h: Harness, k: Int): (DataFrame, DataFrame) = {
    val mfi = h.call("operators", "GwasIngest.readMfi")(
      GwasIngest.readMfi(spark, inbox("mfi", k)))
    val assoc = spark.read.option("sep", "\t").schema(AssocSchema).csv(inbox("assoc", k))
    val marker = read(h, "marker")
    h.call("operators", "GwasOps.qcSplit") {
      val load = mfi.drop("a1").join(assoc, Seq("snp_id"))
      val rows = GwasOps.resolveMarkerIds(load, marker).select(
        col("kgp_id"), lit(k).as("study_id"), col("a1"), col("a2"), col("stat"),
        col("se"), GwasOps.negLog10P(col("p")).as("neg_log10_p"),
        col("info_score").as("impute_score"),
        GwasOps.mafCalc(col("geno_all")).as("maf_all"), col("geno_all"),
        split(col("kgp_id"), ":").getItem(0).cast("int").as("chr"))
      GwasOps.qcSplit(rows)
    }
  }

  private def touch(key: (String, Int)): Unit =
    if (!touched.contains(key)) touched(key) = model.get(key)

  private def applyLoad(k: Int): Unit = {
    val rows = study(k)
    rows.foreach { case (_, _, g, fails) =>
      if (!fails) { touch((g.kgp, k)); model((g.kgp, k)) = g } }
    removed(k) = rows.filter(_._4).map(_._3.kgp).toSet
  }

  private def df(rows: Seq[GRow]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows.map(g =>
      Row(g.kgp, g.study, g.a1, g.a2, g.stat, g.se, g.nlp, g.impute, g.maf, g.geno, g.chr)), 1),
      GwasSchema)

  private def freshRead(h: Harness, j: Int): Unit = {
    val c = 1 + rng.below(Chrs, 30, version)
    val lo = pos(c)(rng.below(M - 60, 31, version))
    val hi = lo + 5000
    val want = (0 until M).filter(i => pos(c)(i) >= lo && pos(c)(i) <= hi)
      .flatMap(i => model.get((kgp(c, i), j))).map(g => s"${g.kgp}|${g.stat}")
    val wantV = version
    h.op("fresh_read") {
      val v = h.call("storage", "TxLog.currentVersion")(TxLog.currentVersion(spark, path("gwas")))
      h.expect("fresh_read version", v, Some(wantV))
      val q = h.call("operators", "GwasOps.regionQuery") {
        val b = GwasOps.regionQuery(read(h, "b37"), c, lo, hi).select("kgp_id")
        read(h, "gwas").filter(col("chr") === c && col("study_id") === j)
          .join(b, "kgp_id").select("kgp_id", "stat")
      }
      val got = h.action("collect")(q.collect())
      h.returned(got.length)
      h.expect("fresh_read rows",
        (got.length, Stats.rowsChecksum(got.map(r => s"${r.getString(0)}|${r.getDouble(1)}"))),
        (want.size, Stats.rowsChecksum(want)))
    }
  }

  private def loadedStudy(salt: Long): Int = rng.below(nextStudy, 40, salt)

  /** One study load and the writer's interleaved maintenance. */
  private def cycle(h: Harness, forceAll: Boolean): Unit = {
    val k = nextStudy
    nextStudy += 1
    if (!studyBytes.contains(k)) writeStudy(k, None)
    val ok = h.op("load") {
      val (kept, rem) = pipeline(h, k)
      h.call("storage", "TxLog.append")(TxLog.append(kept, path("gwas")))
      h.call("storage", "TxLog.append")(TxLog.append(rem, path("no_gwas_result")))
    }
    if (ok) {
      applyLoad(k)
      version += 1
      if (h.recording) { loadedBytes += studyBytes(k); loadedRows += studyRows(k) }
    } else version = TxLog.currentVersion(spark, path("gwas")).getOrElse(version)
    freshRead(h, k)
    h.op("audit_read") {
      val got = h.action("collect")(read(h, "no_gwas_result")
        .filter(col("study_id") === k).select("kgp_id").collect()).map(_.getString(0))
      h.returned(got.length)
      h.expect("no_gwas_result", got.toSet, removed.getOrElse(k, Set.empty[String]))
    }
    if (forceAll || k % Cadence == 0) {
      val j = loadedStudy(k)
      val keys = model.keysIterator.filter(_._2 == j).toSeq.sorted
      val picked = keys.filter(key => rng.below(80, 41, k, key._1.hashCode) == 0).take(60)
      val upd = picked.map { key =>
        val g = model(key)
        g.copy(stat = g.stat + 1.0 + rng.unit(42, k, key._1.hashCode),
          nlp = g.nlp + 0.5)
      }
      if (upd.nonEmpty) {
        val wantV = version + 1
        val ok = h.op("merge") {
          val v = h.call("storage", "TxLog.mergeInto")(
            TxLog.mergeInto(path("gwas"), df(upd), Seq("kgp_id", "study_id")))
          h.expect("merge version", v, wantV)
        }
        if (ok) {
          upd.foreach { g => touch((g.kgp, j)); model((g.kgp, j)) = g }
          version = wantV
          merges += ((wantV, upd.size))
        } else version = TxLog.currentVersion(spark, path("gwas")).getOrElse(version)
        freshRead(h, j)
      }
    }
    if (forceAll || k % Cadence == 3) {
      val j = loadedStudy(k + 1000)
      val gone = model.valuesIterator.filter(g => g.study == j && g.impute < 0.35).toSeq
      val wantV = if (gone.isEmpty) version else version + 1
      val ok = h.op("delete") {
        val v = h.call("storage", "TxLog.deleteWhere")(TxLog.deleteWhere(spark,
          path("gwas"), col("study_id") === j && col("impute_score") < 0.35,
          deletionVectors = true))
        h.expect("delete version", v, wantV)
      }
      if (ok) {
        gone.foreach { g => touch((g.kgp, j)); model.remove((g.kgp, j)) }
        version = wantV
      } else version = TxLog.currentVersion(spark, path("gwas")).getOrElse(version)
      freshRead(h, j)
    }
    if ((forceAll || k % Cadence == 6) && version > feedFrom) {
      val want = touched.toSeq.flatMap { case (key, before) =>
        (before, model.get(key)) match {
          case (None, Some(_)) => Some(s"${key._1}|${key._2}|insert")
          case (Some(_), None) => Some(s"${key._1}|${key._2}|delete")
          case (Some(a), Some(b)) if a != b => Some(s"${key._1}|${key._2}|update")
          case _ => None
        }
      }
      val (from, to) = (feedFrom, version)
      val ok = h.op("feed") {
        val got = h.action("collect")(h.call("storage", "TxLog.changes")(
          TxLog.changes(spark, path("gwas"), from, to, Seq("kgp_id", "study_id")))
          .select("kgp_id", "study_id", "_change_type").collect())
          .map(r => s"${r.getString(0)}|${r.getInt(1)}|${r.getString(2)}")
        h.returned(got.length)
        h.expect("feed", (got.length, Stats.rowsChecksum(got)),
          (want.size, Stats.rowsChecksum(want)))
      }
      if (ok) { feedFrom = to; touched.clear() }
    }
  }

  def step(h: Harness): Unit = cycle(h, forceAll = false)

  def report(h: Harness): Report = {
    def walls(kind: String) = h.ops.filter(_.kind == kind).map(_.wallMs).toSeq
    val loads = walls("load")
    def p50(kind: String) = Metric(s"${kind}_p50_ms", Stats.median(walls(kind)), "ms",
      walls(kind).size)
    val rate = loadedRows / (loads.sum / 1000)
    Report(_.kind == "load", rate, Seq(
      p50("load"), Stats.tailMetric("load_tail_ms", loads), p50("merge"), p50("delete"), p50("fresh_read"), p50("feed"), p50("audit_read"),
      Metric("ingest_rows_per_s", rate, "1/s", loads.size),
      Metric("write_amp", (lakeBytes - lakeAtStart).toDouble / math.max(1L, loadedBytes),
        "ratio", loads.size)))
  }

  override def layerExtras(h: Harness): Map[String, Double] = {
    // rows the merge commits wrote (new files' rows) per row changed
    val written = merges.map { case (v, _) =>
      val before = TxLog.manifest(spark, path("gwas"), v - 1).files.toSet
      val m = TxLog.manifest(spark, path("gwas"), v)
      m.files.filterNot(before).map(f => m.fileRows.getOrElse(f, 0L)).sum
    }.sum
    Storage.state(spark, path("gwas"), Seq(path("gwas"), path("no_gwas_result"))) +
      ("storage.merge_rows_written_per_row_changed" ->
        (if (merges.isEmpty) 0.0 else written.toDouble / merges.map(_._2).sum))
  }
}
