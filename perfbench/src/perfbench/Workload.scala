package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession

/** A measured metric as the run reports it. */
final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** One of the benchmark's workloads. The harness calls [[stage]] (data
  * generation and staging) and [[warm]] once, then [[step]] in a
  * closed loop until the run's time is up. */
trait Workload {
  def name: String
  /** Generate the inputs from the seed and stage them under `root`. */
  def stage(root: String, h: Harness): Unit
  /** One checked, unrecorded pass of every operation kind. */
  def warm(h: Harness): Unit
  /** One step of the closed loop: one or more operations. */
  def step(h: Harness): Unit
  /** The workload's user-facing figures over the recorded operations:
    * the generic end-to-end set plus the workload's own named ones. */
  def report(h: Harness): Report
  /** Hash, byte size and row count of the generated inputs. */
  def inputs: Inputs
  /** Layer figures the harness can only read from the workload's own
    * state (table versions, log bytes, ratios of useful work). */
  def layerExtras(h: Harness): Map[String, Double] = Map.empty
}

/** `primary` selects the operations behind `op_p50_ms`;
  * `workPerS` is the work those operations completed (requests, rows
  * or documents) per second of their own wall, so it does not depend
  * on where the run's time limit cuts the mix; `named` are the
  * workload's own metrics. */
final case class Report(primary: Op => Boolean, workPerS: Double,
                        named: Seq[Metric])

final case class Inputs(sha256: String, bytes: Long, rows: Long,
                        sizes: Seq[(String, Long)])

/** Seeded, order-independent randomness: every generated value is a
  * pure function of (seed, coordinates), so the same seed yields
  * byte-identical inputs however the generator is traversed. */
final class Rng(seed: Long) {
  private def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }
  def long(k: Long*): Long =
    k.foldLeft(mix(seed * 0x9e3779b97f4a7c15L + 0x632be59bd9b4e019L))(
      (h, x) => mix(h ^ (x + 0x9e3779b97f4a7c15L)))
  def unit(k: Long*): Double = (long(k: _*) >>> 11) * (1.0 / (1L << 53))
  def below(n: Int, k: Long*): Int = java.lang.Math.floorMod(long(k: _*), n.toLong).toInt
}

/** The seeded marker map both gwas workloads use: marker i of
  * chromosome c (1-based) sits at 10000 + 100 i plus a seeded offset
  * below 50, so positions strictly increase and every window's markers
  * follow from the map; ref and alt alleles are seeded and differ. */
final class Markers(rng: Rng, chrs: Int, m: Int) {
  private val Alleles = Array("A", "C", "G", "T")
  val pos: Array[Array[Int]] =
    Array.tabulate(chrs + 1, m)((c, i) => 10000 + 100 * i + rng.below(50, 1, c, i))
  private val refIx = Array.tabulate(chrs + 1, m)((c, i) => rng.below(4, 2, c, i))
  def ref(c: Int, i: Int): String = Alleles(refIx(c)(i))
  def alt(c: Int, i: Int): String = Alleles((refIx(c)(i) + 1 + rng.below(3, 3, c, i)) % 4)
  def kgp(c: Int, i: Int): String = s"$c:${pos(c)(i)}_${ref(c, i)}_${alt(c, i)}"
}

/** SHA-256 over the generated inputs' canonical text, plus totals. */
final class InputDigest {
  private val md = MessageDigest.getInstance("SHA-256")
  private var bytes = 0L
  private var rows = 0L
  private val sizes = scala.collection.mutable.LinkedHashMap[String, Long]()
  def line(part: String, s: String): Unit = {
    val b = (s + "\n").getBytes(UTF_8)
    md.update(b); bytes += b.length; rows += 1
    sizes(part) = sizes.getOrElse(part, 0L) + 1
  }
  def result: Inputs = Inputs(
    md.clone().asInstanceOf[MessageDigest].digest().map("%02x".format(_)).mkString,
    bytes, rows, sizes.toSeq)
}

object Files {
  def sizeUnder(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else f.length()
    walk(new File(path))
  }
  def delete(path: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      f.delete()
    }
    walk(new File(path))
  }
  def write(path: String, lines: Iterator[String]): Long = {
    new File(path).getParentFile.mkdirs()
    val w = new java.io.BufferedWriter(new java.io.OutputStreamWriter(
      new java.io.FileOutputStream(path), UTF_8))
    var n = 0L
    try lines.foreach { l => w.write(l); w.write('\n'); n += l.getBytes(UTF_8).length + 1 }
    finally w.close()
    n
  }
}

object Workload {
  def apply(name: String, seed: Long, spark: SparkSession): Workload = name match {
    case "gwas_browse" => new GwasBrowse(seed, spark)
    case "gwas_ingest" => new GwasIngestLoad(seed, spark)
    case "curate_corpus" => new CurateCorpus(seed, spark)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }
  val Names = Seq("gwas_browse", "gwas_ingest", "curate_corpus")
}
