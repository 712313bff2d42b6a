package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** One clock for the harness's spans and Spark's own event stamps:
  * epoch milliseconds with sub-millisecond resolution. */
object Clock {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def nowMs: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** A wrong answer: the operation ran but its result disagreed with the
  * generator's model. Counted as failed, exactly like an exception. */
final class WrongAnswer(msg: String) extends RuntimeException(msg)

/** One client operation as the user saw it: wall-clock start stamp,
  * wall time, and whether it failed or answered wrongly. */
final case class Op(id: Int, kind: String, startMs: Double, endMs: Double,
                    ok: Boolean, note: String) {
  def wallMs: Double = endMs - startMs
}

/** The closed-loop client: runs one operation at a time, times it,
  * checks its answer, and keeps every sample (none is dropped or
  * re-run). With a [[Tracer]] attached, every call into a graft layer
  * and every result action is also recorded as a span. */
final class Harness(val spark: SparkSession, val tracer: Option[Tracer],
                    injectWrong: Boolean) {
  val ops = ArrayBuffer[Op]()
  /** Operations outside the measured window (the warm pass) run and
    * are checked, but are not recorded. */
  var recording = false
  private var nextId = 0
  private var currentId = -1
  private var rowsReturned = 0L
  /** Every operation run, the warm pass included: none is left out. */
  var attempted = 0
  var failed = 0

  def op(kind: String)(body: => Unit): Boolean = {
    val id = nextId
    nextId += 1
    currentId = id
    val t0 = Clock.nowMs
    tracer.foreach(_.beginOp(id, kind, t0, recording))
    val (ok, note) =
      try { body; (true, "") }
      catch {
        case e: WrongAnswer => (false, "wrong answer: " + e.getMessage)
        case e: Throwable =>
          (false, e.getClass.getName + ": " + String.valueOf(e.getMessage).take(300))
      }
    val t1 = Clock.nowMs
    tracer.foreach(_.endOp(id, t1))
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"[perfbench] op $id $kind failed: $note")
    }
    if (recording) ops += Op(id, kind, t0, t1, ok, note)
    ok
  }

  /** A call into one of graft's layers (`operators`, `storage`, ...). */
  def call[T](layer: String, name: String)(f: => T): T = tracer match {
    case None => f
    case Some(t) => t.span(layer, name)(f)
  }

  /** A result action (collect/count/write): planning, jobs and tasks
    * run under it; its remaining driver time is Spark's dispatch. */
  def action[T](name: String)(f: => T): T = call("spark", name)(f)

  /** Rows an action handed back, counted in traced steps only (the
    * denominator of rows examined per row returned). */
  def returned(rows: Long): Unit =
    if (recording && tracer.exists(_.enabled)) rowsReturned += rows
  def rowsReturnedTotal: Long = rowsReturned

  /** Compare an answer with the model's. With fault injection on,
    * every fifth operation's expected value is deliberately corrupted,
    * which must surface as a failed operation. */
  def expect(what: String, got: Any, want: Any): Unit = {
    val w = if (injectWrong && currentId % 5 == 0) ("corrupted", want) else want
    if (got != w) throw new WrongAnswer(s"$what: got $got, want $w")
  }
}

object Stats {
  def sorted(xs: Seq[Double]): IndexedSeq[Double] = xs.sorted.toIndexedSeq

  def median(xs: Seq[Double]): Double = {
    val s = sorted(xs)
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The tail: the highest percentile that still has at least ten
    * samples above it, with that percentile. It lies above the median
    * only from 22 samples on; with fewer there is no tail to report. */
  def tail(xs: Seq[Double]): Option[(Double, Double)] = {
    val s = sorted(xs)
    if (s.size < 22) None
    else Some((s(s.size - 11), 100.0 * (s.size - 10) / s.size))
  }

  /** The tail as a printed metric, named with its percentile. */
  def tailMetric(name: String, xs: Seq[Double]): Metric = tail(xs) match {
    case Some((v, pct)) => Metric(f"$name(p$pct%.1f)", v, "ms", xs.size)
    case None => Metric(s"$name(none: <22 samples)", Double.NaN, "ms", xs.size)
  }

  /** Order-insensitive checksum of a row set. */
  def rowsChecksum(rows: Iterable[String]): Long =
    rows.foldLeft(0L)((acc, r) => acc + scala.util.hashing.MurmurHash3.stringHash(r).toLong)
}
