package perfbench

import scala.collection.mutable

/** Turns a traced run into per-layer figures.
  *
  * Self time: every instant of an operation's wall is charged to
  * exactly one layer — the innermost thing running at that instant.
  * Tasks running (`exec`) outrank an open Spark job (`spark`), which
  * outranks a Catalyst planning phase (`plans`), which outranks the
  * harness's own spans, where the deepest span wins (`storage` for a
  * TxLog verb, `operators` for a DataFrame-building call, `spark` for
  * the driver side of a result action, `bench` for the client itself).
  * By construction the self times of an operation sum to its wall. */
object Layers {
  val Names = Seq("bench", "operators", "plans", "storage", "spark", "exec")

  type Iv = (Double, Double)

  def union(xs: Iterable[Iv]): Seq[Iv] = {
    val out = mutable.ArrayBuffer[Iv]()
    xs.filter(x => x._2 > x._1).toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (out.nonEmpty && s <= out.last._2)
        out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }
  def length(xs: Seq[Iv]): Double = xs.map(x => x._2 - x._1).sum
  def clip(x: Iv, lo: Double, hi: Double): Iv =
    (math.max(x._1, lo), math.min(x._2, hi))

  final case class OpSelf(id: Int, kind: String, wallMs: Double,
                          self: Map[String, Double])

  final case class Result(perOp: Seq[OpSelf], metrics: Map[String, Double],
                          detail: Map[String, (Double, Int)], joins: Map[String, Int])

  private final case class Piece(s: Double, e: Double, prio: Int, depth: Int,
                                 layer: String)

  def analyze(t: Tracer, slots: Int, rowsReturned: Long): Result = {
    val ids = t.tracedOps.keySet
    val spansBy = t.spans.toSeq.filter(s => ids(s.op)).groupBy(_.op)
    val jobsBy = t.jobs.toSeq.filter(j => ids(j.op)).groupBy(_.op)
    val tasksBy = t.tasks.toSeq.filter(x => ids(x.op)).groupBy(_.op)
    val queriesBy = t.queries.toSeq.filter(q => ids(q.op)).groupBy(_.op)
    val n = math.max(1, ids.size).toDouble
    val acc = mutable.Map[String, Double]().withDefaultValue(0.0)
    val detail = mutable.Map[String, Vector[Double]]().withDefaultValue(Vector())
    var jobUnionTotal = 0.0
    var taskTimeTotal = 0.0

    val perOp = t.tracedOps.toSeq.map { case (id, kind) =>
      val sp = spansBy.getOrElse(id, Nil)
      val root = sp.find(_.parent == -1).get
      val (o0, o1) = (root.start, root.end)
      val jobIvs = jobsBy.getOrElse(id, Nil).map(j =>
        clip((j.start, if (j.end.isNaN) o1 else j.end), o0, o1))
      val taskIvs = union(tasksBy.getOrElse(id, Nil).map(x =>
        clip((x.launch, x.finish), o0, o1)))
      val qs = queriesBy.getOrElse(id, Nil)
      val pieces =
        sp.map(s => Piece(s.start, s.end, 1, s.depth, s.layer)) ++
        qs.flatMap(_.phases.values.map { p =>
          val c = clip(p, o0, o1); Piece(c._1, c._2, 2, 0, "plans") }) ++
        jobIvs.map(j => Piece(j._1, j._2, 3, 0, "spark")) ++
        taskIvs.map(x => Piece(x._1, x._2, 4, 0, "exec"))
      val live = pieces.filter(p => p.e > p.s)
      val points = (live.flatMap(p => Seq(p.s, p.e)) ++ Seq(o0, o1))
        .filter(x => x >= o0 && x <= o1).distinct.sorted
      val self = mutable.Map[String, Double]().withDefaultValue(0.0)
      points.sliding(2).foreach {
        case Seq(a, b) if b > a =>
          val m = (a + b) / 2
          val w = live.filter(p => p.s <= m && m < p.e)
            .maxBy(p => (p.prio, p.depth))
          self(w.layer) += b - a
        case _ =>
      }
      val wall = o1 - o0
      require(math.abs(self.values.sum - wall) <= 1e-6 * math.max(1.0, wall),
        s"self times of op $id do not sum to its wall")
      Names.foreach(l => acc(s"$l.self_ms") += self(l))

      // which harness span a job started under (innermost)
      def under(x: Double): Seq[SpanRec] =
        sp.filter(s => s.start <= x && x < s.end).sortBy(_.depth)
      val jobsHere = jobsBy.getOrElse(id, Nil)
      jobsHere.foreach { j =>
        val chain = under(j.start)
        if (chain.lastOption.exists(_.layer == "operators"))
          acc("operators.construct_jobs") += 1
        if (chain.exists(s => s.name == "Dedup.components" || s.name == "Dedup.electBest"))
          acc("operators.components_jobs") += 1
        if (chain.exists(_.layer == "storage")) acc("storage.verb_jobs") += 1
      }
      // top-level spans of a layer: not nested in a span of that layer
      def tops(layer: String): Seq[SpanRec] = {
        val byId = sp.map(s => s.id -> s).toMap
        sp.filter { s =>
          s.layer == layer && {
            var p = byId.get(s.parent); var nested = false
            while (p.isDefined) {
              if (p.get.layer == layer) nested = true
              p = byId.get(p.get.parent)
            }
            !nested
          }
        }
      }
      tops("operators").foreach(s => acc("operators.construct_ms") += s.end - s.start)
      tops("storage").foreach { s =>
        val inJobs = length(union(jobIvs.map(j => clip(j, s.start, s.end))))
        acc("storage.verb_driver_ms") += (s.end - s.start) - inJobs
      }
      sp.filter(s => s.layer == "storage" || s.name.startsWith("stage:"))
        .foreach(s => detail(s.name) = detail(s.name) :+ (s.end - s.start))
      qs.foreach { q =>
        Seq("analysis", "optimization", "planning").foreach(ph =>
          q.phases.get(ph).foreach { p =>
            val c = clip(p, o0, o1)
            acc(s"plans.${ph}_ms") += math.max(0.0, c._2 - c._1)
          })
        acc("sources.files_read") += q.filesRead
        acc("sources.rows_examined") += q.scanRows
      }
      acc("plans.nodes_total") += qs.map(_.nodes).sum
      acc("plans.queries") += qs.size
      val ju = length(union(jobIvs))
      jobUnionTotal += ju
      acc("spark.driver_gap_ms") += wall - ju
      acc("spark.jobs") += jobsHere.size
      acc("spark.stages") += t.stageCount(id)
      val ts = tasksBy.getOrElse(id, Nil)
      acc("spark.tasks") += ts.size
      taskTimeTotal += ts.map(x => x.finish - x.launch).sum
      ts.foreach { x =>
        acc("exec.cpu_ms") += x.cpuMs; acc("exec.run_ms") += x.runMs
        acc("exec.gc_ms") += x.gcMs
        acc("exec.shuffle_read_bytes") += x.shuffleRead
        acc("exec.shuffle_write_bytes") += x.shuffleWrite
        acc("exec.input_bytes") += x.input; acc("exec.output_bytes") += x.output
        acc("exec.spill_bytes") += x.spill
      }
      OpSelf(id, kind, wall, Names.map(l => l -> self(l)).toMap)
    }

    val perOpKeys = Names.map(l => s"$l.self_ms") ++ Seq(
      "operators.construct_ms", "operators.construct_jobs",
      "operators.components_jobs", "plans.analysis_ms",
      "plans.optimization_ms", "plans.planning_ms", "storage.verb_jobs",
      "storage.verb_driver_ms", "sources.files_read", "spark.jobs",
      "spark.stages", "spark.tasks", "spark.driver_gap_ms", "exec.cpu_ms",
      "exec.run_ms", "exec.gc_ms", "exec.shuffle_read_bytes",
      "exec.shuffle_write_bytes", "exec.input_bytes", "exec.output_bytes",
      "exec.spill_bytes")
    val metrics = perOpKeys.map(k => k -> acc(k) / n).toMap ++ Map(
      "plans.nodes" -> acc("plans.nodes_total") / math.max(1.0, acc("plans.queries")),
      "storage.read_ms" -> Stats.median(detail("TxLog.read")),
      "sources.rows_examined_per_row_returned" ->
        acc("sources.rows_examined") / math.max(1L, rowsReturned).toDouble,
      "spark.slot_busy_ratio" ->
        (if (jobUnionTotal > 0) taskTimeTotal / (jobUnionTotal * slots) else 0.0))
    val joins = queriesBy.values.flatten.flatMap(_.joins).groupBy(identity)
      .map { case (k, v) => k -> v.size }
    Result(perOp, metrics,
      detail.toMap.map { case (k, v) => k -> ((Stats.median(v), v.size)) }, joins)
  }
}
