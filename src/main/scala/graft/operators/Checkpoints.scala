package graft.operators

import org.apache.spark.sql.DataFrame

/** The one seam for eager lineage cuts in iterative operators
  * (Graph.pagerank/kcore/hierarchy, Dedup.components, the BPE merge
  * loop, madOutliers' shared histogram).
  *
  * Iterative plans re-read their own output several times per round;
  * chaining rounds lazily grows the logical plan geometrically and
  * stalls Catalyst long before the data is the problem, so each round
  * ends in an EAGER materialization. WHERE the blocks land is the
  * fault-tolerance trade:
  *
  *  - default: `localCheckpoint(eager)` — executor-memory/disk
  *    resident, no external storage, fast. The documented soft spot
  *    (r16 verdict): blocks die with their executor, so at cluster
  *    scale an executor loss mid-loop fails the JOB instead of
  *    recomputing a partition.
  *  - `graft.checkpointDir` set: reliable `checkpoint()` into that
  *    directory — partitions rebuild from HDFS/object storage after
  *    executor loss; the cost is one write to shared storage per cut.
  *    This is the 1000-executor posture: on long iterative jobs the
  *    probability of losing SOME executor approaches 1, and a
  *    restart-from-scratch costs more than every checkpoint write
  *    combined.
  *
  * The conf is read per cut, so a session can scope it around one
  * pipeline (`spark.conf.set(...)` / `unset`). Results are identical
  * either way — only recovery semantics differ (parity spec:
  * CheckpointSpec). */
object Checkpoints {

  val DirConf = "graft.checkpointDir"

  // last conf value actually applied via setCheckpointDir. The
  // context's own getCheckpointDir can never equal the conf value:
  // setCheckpointDir stores a QUALIFIED `<dir>/<random-uuid>` child,
  // so comparing against it re-set (and re-mkdir'd a fresh UUID
  // directory) on EVERY cut — one mkdirs RPC plus directory litter
  // per round of pagerank/BPE/components (r17 advice). Caching the
  // applied conf string makes the guard real; the getCheckpointDir
  // check alongside it keeps the seam correct if some other code
  // path cleared or re-pointed the context's checkpoint dir.
  @volatile private var appliedDir: String = null

  /** Eagerly materialize `df` and return a frame whose lineage starts
    * at the materialized partitions. Reliable when [[DirConf]] is
    * set; local otherwise. */
  def cut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConf) match {
      case Some(dir) if dir.nonEmpty =>
        val sc = spark.sparkContext
        if (appliedDir != dir || sc.getCheckpointDir.isEmpty) {
          sc.setCheckpointDir(dir)
          appliedDir = dir
        }
        df.checkpoint(eager = true)
      case _ => df.localCheckpoint(true)
    }
  }

  /** [[cut]] for loops whose NEXT statement is already a full action
    * over the cut frame (a convergence aggregate, a top-k collect, a
    * count): the local checkpoint is marked LAZILY and that action
    * materializes it — compute + persist + aggregate in ONE Spark job
    * instead of a materialization job followed by the aggregate job
    * (guide §5: per-round driver/job overhead is the whole cost of
    * these node-sized loops at bench scale). Lineage still restarts at
    * the materialized partitions, so plans stay constant-size across
    * rounds. The reliable-dir posture keeps the EAGER reliable
    * checkpoint: a lazy `checkpoint()` re-computes the whole plan a
    * second time to write the checkpoint files, which costs more than
    * the one job this fusion saves. Callers MUST follow a cutLazy with
    * a full-coverage action before branching on the frame. A partial
    * action (isEmpty/take) still gives correct results: it computes
    * only the partitions it reads, and Spark's local checkpoint
    * (LocalRDDCheckpointData) then runs a fill-in job for the rest.
    * That fill-in is the extra job this method exists to remove — a
    * cost in performance, never in correctness. */
  def cutLazy(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    spark.conf.getOption(DirConf) match {
      case Some(dir) if dir.nonEmpty => cut(df)
      case _ => df.localCheckpoint(false)
    }
  }
}
