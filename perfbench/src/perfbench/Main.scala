package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import graft.GraftSession

/** Runs one workload for a fixed time and prints its result.
  *
  * {{{
  * Main --workload <gwas_browse|gwas_ingest|curate_corpus> --seed <n>
  *      --seconds <s> --trace <0|1> --root <scratch dir> --record <file>
  *      [--inject-wrong]
  * }}}
  *
  * Untraced (`--trace 0`), the last stdout line carries the end-to-end
  * metrics. Traced (`--trace 1`), steps alternate between traced and
  * untraced, the last line carries the per-layer metrics, and the
  * difference of the two halves' median operation wall (per operation
  * kind) is the tracing overhead. `--inject-wrong` corrupts every fifth expected answer, to
  * show that a wrong answer is counted as a failed operation. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        root: String, record: String, injectWrong: Boolean)

  def parse(args: Array[String]): Args = {
    val m = args.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing $k"))
    val a = Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--root"), need("--record"), args.contains("--inject-wrong"))
    require(Workload.Names.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds > 0, "bad --seconds")
    a
  }

  /** A fixed CPU-bound job (SHA-256 over 16 MB), timed. Read before and
    * after a run: a host stall shows as a reading far above the usual. */
  def calibrate(): Double = {
    val buf = Array.tabulate[Byte](1 << 20)(i => (i * 31).toByte)
    val t0 = System.nanoTime()
    val md = MessageDigest.getInstance("SHA-256")
    (0 until 16).foreach(_ => md.update(buf))
    md.digest()
    (System.nanoTime() - t0) / 1e6
  }

  /** CPU seconds the hypervisor took from this machine (`steal` in
    * /proc/stat, in 1/100 s ticks, summed over CPUs; NaN where the
    * kernel has none). A
    * host slowdown that the short calibration misses shows here. */
  def stealS(): Double = {
    val f = new java.io.File("/proc/stat")
    if (!f.exists) Double.NaN
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().next().trim.split("\\s+").lift(8).map(_.toDouble / 100)
        .getOrElse(Double.NaN)
      finally src.close()
    }
  }

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  private val VerbNames = Map("TxLog.read" -> "read", "TxLog.append" -> "append",
    "TxLog.mergeInto" -> "merge", "TxLog.deleteWhere" -> "delete",
    "TxLog.changes" -> "feed", "TxLog.currentVersion" -> "version")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    calibrate() // first reading runs interpreted; the second is the steady one
    val calBefore = calibrate()
    val t0 = Clock.nowMs
    val spark = GraftSession.get("perfbench")
    val sessionS = (Clock.nowMs - t0) / 1000
    val slots = spark.sparkContext.defaultParallelism
    val storageMem = spark.sparkContext.getExecutorMemoryStatus.values.map(_._1).sum
    val w = Workload(a.workload, a.seed, spark)
    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val h = new Harness(spark, tracer, a.injectWrong)

    val ts = Clock.nowMs
    w.stage(a.root, h)
    val stagingS = (Clock.nowMs - ts) / 1000
    val tw = Clock.nowMs
    w.warm(h)
    val warmS = (Clock.nowMs - tw) / 1000
    val setupS = sessionS + stagingS + warmS
    val lake = s"${a.root}/lake"

    val lakeBefore = Files.sizeUnder(lake)
    h.recording = true
    val stealBefore = stealS()
    val windowStart = Clock.nowMs
    val deadline = windowStart + a.seconds * 1000
    val stepMs = scala.collection.mutable.ArrayBuffer[Double]()
    val tracedIds = scala.collection.mutable.Set[Int]()
    // a step starts only if half a typical step still fits before the
    // deadline, so a run overruns --seconds by about half a step at most
    // however fast or slow the program is; a traced run needs at least
    // one traced and one untraced step
    def fits: Boolean = {
      val left = deadline - Clock.nowMs
      left > 0 && (stepMs.isEmpty || left >= Stats.median(stepMs.toSeq) / 2)
    }
    while (fits || (tracer.isDefined && stepMs.size < 2)) {
      val traced = tracer.isDefined && stepMs.size % 2 == 0
      tracer.foreach(_.enable(traced))
      val before = h.ops.size
      val t = Clock.nowMs
      w.step(h)
      stepMs += Clock.nowMs - t
      if (traced) h.ops.drop(before).foreach(o => tracedIds += o.id)
    }
    tracer.foreach(_.enable(false))
    h.recording = false
    val windowS = (Clock.nowMs - windowStart) / 1000
    val stealWindow = stealS() - stealBefore
    val bytesWritten = Files.sizeUnder(lake) - lakeBefore

    val rep = w.report(h)
    val primary = h.ops.filter(rep.primary).map(_.wallMs).toSeq
    val inputs = w.inputs
    val rss = peakRssMb()
    val out = new StringBuilder
    def line(s: String): Unit = { println(s); out ++= s + "\n" }
    line(s"[perfbench] workload=${a.workload} seed=${a.seed} local[$slots] closed loop, 1 client, " +
      s"${a.seconds}s, trace=${if (a.trace) 1 else 0}")
    line(s"[perfbench] inputs sha256=${inputs.sha256} bytes=${inputs.bytes} rows=${inputs.rows} " +
      inputs.sizes.map { case (k, v) => s"$k=$v" }.mkString("(", " ", ")") +
      f"; Spark storage memory ${storageMem / 1048576.0}%.0f MB" +
      f" (inputs are ${100.0 * inputs.bytes / storageMem}%.1f%% of it)")
    val calAfter = calibrate()
    line(f"[perfbench] cpu calibration before=$calBefore%.1f ms after=$calAfter%.1f ms")
    line(f"[perfbench] host steal in the measured window: $stealWindow%.2f cpu-s over " +
      f"$windowS%.1f s on ${Runtime.getRuntime.availableProcessors} cpus")
    line(f"[perfbench] setup_s = session $sessionS%.3f + staging $stagingS%.3f + warm pass $warmS%.3f")
    val failed = h.failed
    val e2e = Seq(
      Metric("setup_s", setupS, "s", 1),
      Metric("peak_rss_mb", rss, "MB", 1),
      Metric("op_p50_ms", Stats.median(primary), "ms", primary.size),
      Metric("work_per_s", rep.workPerS, "1/s", primary.size))
    (e2e ++ rep.named :+ Metric("failed_op_ratio", failed.toDouble / math.max(1, h.attempted),
      "ratio", h.attempted)).foreach { m =>
      line(f"[perfbench] ${m.name}%-34s ${m.value}%14.4f ${m.unit}%-6s (n=${m.samples})")
    }

    val layer = tracer.map { t =>
      val r = Layers.analyze(t, slots, h.rowsReturnedTotal)
      // per operation kind, traced minus untraced median wall, weighted
      // by the traced operations of each kind: a mix of kinds is not
      // split evenly between the two halves
      val byKind = h.ops.filter(rep.primary).groupBy(_.kind).values.toSeq.flatMap { os =>
        val (tr, un) = os.partition(o => tracedIds(o.id))
        if (tr.isEmpty || un.isEmpty) None
        else Some((tr.size, Stats.median(tr.map(_.wallMs).toSeq) -
          Stats.median(un.map(_.wallMs).toSeq)))
      }
      val overhead = byKind.map { case (n, d) => n * d }.sum / math.max(1, byKind.map(_._1).sum)
      val extras = w.layerExtras(h)
      val metrics = r.metrics ++ extras ++ Map(
        "storage.bytes_written" -> bytesWritten.toDouble / math.max(1, h.ops.size),
        "trace.overhead_ms" -> overhead)
      (r, metrics)
    }
    layer.foreach { case (r, metrics) =>
      val wall = r.perOp.map(_.wallMs).sum
      line(f"[perfbench] traced ops=${r.perOp.size} wall=${wall}%.1f ms; self time per layer " +
        "(ms/op, share) — sums to the wall:")
      Layers.Names.foreach { l =>
        val s = r.perOp.map(_.self(l)).sum
        line(f"[perfbench]   $l%-10s ${s / math.max(1, r.perOp.size)}%12.3f ${100 * s / wall}%6.1f%%")
      }
      r.perOp.groupBy(_.kind).toSeq.sortBy(_._1).foreach { case (k, os) =>
        line(f"[perfbench]   op $k%-16s n=${os.size}%-4d " + Layers.Names.map(l =>
          f"$l=${os.map(_.self(l)).sum / os.size}%.1f").mkString(" "))
      }
      r.detail.toSeq.sortBy(_._1).foreach { case (k, (p50, n)) =>
        val name =
          if (k.startsWith("stage:")) s"operators.${k.stripPrefix("stage:")}_ms"
          else s"storage.${VerbNames.getOrElse(k, k)}_ms"
        line(f"[perfbench]   $name%-34s p50 $p50%10.3f ms (n=$n)")
      }
      line("[perfbench] physical joins in traced queries: " + r.joins.toSeq.sorted
        .map { case (k, v) => s"$k=$v" }.mkString(" "))
      line(f"[perfbench] tracing overhead ${metrics("trace.overhead_ms")}%.3f ms per op " +
        "(traced minus untraced median wall, per operation kind)")
      metrics.toSeq.sortBy(_._1).foreach { case (k, v) => line(f"[perfbench]   $k%-42s $v%.4f") }
    }

    val reported: Seq[(String, Double, String)] = layer match {
      case None => e2e.map(m => (m.name, m.value, m.unit))
      case Some((_, metrics)) => PerLayer.units.map { case (k, u) =>
        (k, metrics.getOrElse(k, 0.0), u) }
    }
    val result = Json.obj(
      "correct" -> (failed == 0),
      "attempted" -> h.attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(reported.map { case (k, v, u) =>
        Json.str(k) + ":" + Json.obj("value" -> v, "unit" -> u) }.mkString("{", ",", "}")))

    val record = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "slots" -> slots, "clients" -> 1, "loop" -> "closed",
      "storage_memory_bytes" -> storageMem,
      "inputs" -> Json.Raw(Json.obj("sha256" -> inputs.sha256, "bytes" -> inputs.bytes,
        "rows" -> inputs.rows)),
      "calibration_ms" -> Json.Raw(Json.obj("before" -> calBefore, "after" -> calAfter)),
      "window_s" -> windowS, "steal_cpu_s" -> stealWindow,
      "session_s" -> sessionS, "staging_s" -> stagingS,
      "warm_s" -> warmS,
      "report" -> out.toString,
      "ops" -> Json.Raw(h.ops.map(o => Json.obj("id" -> o.id, "kind" -> o.kind,
        "start_epoch_ms" -> o.startMs, "wall_ms" -> o.wallMs, "ok" -> o.ok,
        "traced" -> tracedIds(o.id), "note" -> o.note)).mkString("[", ",", "]")),
      "spans" -> Json.Raw(tracer.map(_.spans.map(s => Json.obj("op" -> s.op, "id" -> s.id,
        "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start" -> s.start, "end" -> s.end)).mkString("[", ",", "]")).getOrElse("[]")),
      "result" -> Json.Raw(result))
    val f = new java.io.File(a.record)
    f.getParentFile.mkdirs()
    java.nio.file.Files.write(f.toPath, record.getBytes(UTF_8))
    spark.stop()
    println(result)
  }
}

/** The per-layer metrics the traced run reports, with their units. */
object PerLayer {
  val units: Seq[(String, String)] = Layers.Names.map(l => s"$l.self_ms" -> "ms") ++ Seq(
    "operators.construct_ms" -> "ms", "operators.construct_jobs" -> "count",
    "operators.components_jobs" -> "count", "operators.lsh_verified_per_candidate" -> "ratio",
    "plans.analysis_ms" -> "ms", "plans.optimization_ms" -> "ms",
    "plans.planning_ms" -> "ms", "plans.nodes" -> "count",
    "storage.read_ms" -> "ms", "storage.verb_jobs" -> "count",
    "storage.verb_driver_ms" -> "ms", "storage.versions" -> "count",
    "storage.log_bytes" -> "bytes", "storage.live_files" -> "count",
    "storage.bytes_written" -> "bytes",
    "storage.merge_rows_written_per_row_changed" -> "ratio",
    "sources.files_read" -> "count", "sources.rows_examined_per_row_returned" -> "ratio",
    "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count",
    "spark.driver_gap_ms" -> "ms", "spark.slot_busy_ratio" -> "ratio",
    "exec.cpu_ms" -> "ms", "exec.run_ms" -> "ms", "exec.gc_ms" -> "ms",
    "exec.shuffle_read_bytes" -> "bytes", "exec.shuffle_write_bytes" -> "bytes",
    "exec.input_bytes" -> "bytes", "exec.output_bytes" -> "bytes",
    "exec.spill_bytes" -> "bytes", "trace.overhead_ms" -> "ms")
}

object Json {
  final case class Raw(s: String)
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
