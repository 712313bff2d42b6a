package graft.sources

import org.apache.spark.sql.{DataFrame, SQLContext, SparkSession}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.graftbridge.StreamBridge
import org.apache.spark.sql.sources.{DataSourceRegister, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.storage.TxLog

/** TxLog tables as a first-class Structured Streaming SOURCE — the
  * Delta `spark.readStream.format("delta")` shape (reference app.R's
  * Postgres tables have no change stream at all; this is the piece a
  * warehouse needs so downstream consumers don't poll):
  *
  *   spark.readStream.format("graft-txlog")
  *     .option("path", tableDir)
  *     .option("sinceVersion", "latest")      // or a version, or absent = snapshot first
  *     .option("sinceTimestamp", "2026-08-14T10:00:00Z") // tail after that instant
  *     .option("maxFilesPerBatch", "1000")    // rate limit in FILES (splits the snapshot too)
  *     .option("maxVersionsPerBatch", "10")   // rate limit in commits
  *     .option("skipRewriteCommits", "true")  // tail survives OPTIMIZE (see filesOf caveat)
  *     .load()
  *
  * ...and the SINK side of the same format closes the loop: a
  * table-to-table incremental pipeline is
  * `readStream.format("graft-txlog") → transforms →
  * writeStream.format("graft-txlog")`, exactly-once on BOTH ends
  * (replayable offsets here, appendBatch's batch-id watermark there).
  *
  * Two modes:
  *   - **append mode** (default): the stream opens with the table's
  *     SNAPSHOT as of stream start (pre-stream history may contain
  *     merges/compactions — a snapshot doesn't care), then tails each
  *     commit's added files. A rewrite AFTER the stream's start
  *     version fails the tail LOUDLY (file-level increments are only
  *     row-accurate while history is append-only) — consume the
  *     change feed instead.
  *   - **change-feed mode** (`readChangeFeed=true`, `keys=k1,k2`):
  *     each micro-batch is [[TxLog.changes]] over the version range —
  *     net row-level insert/update/delete between the two endpoint
  *     snapshots, `_change_type` appended (`withPreimages=true` adds
  *     `update_preimage` rows). Feeds [[TxLog.applyChanges]] directly,
  *     closing the CDC-replica loop in ONE streaming job with no
  *     intermediate file relay.
  *
  * Offsets are `(version, filesConsumedWithinIt)` pairs, so even the
  * initial snapshot of a 10^5-file table arrives as bounded batches
  * under `maxFilesPerBatch` — and because manifests are immutable
  * once committed, every batch is exactly REPLAYABLE after a restart
  * (same offset pair, same files, same rows), the property
  * exactly-once sinks need from a source. The checkpointed version
  * must survive [[TxLog.vacuum]] (`keepVersions` ≥ stream lag), the
  * same retention contract as Delta's.
  *
  * `sinceVersion` semantics — resolved ONCE and persisted in the
  * query's source-metadata dir (re-resolving `latest` on a restart
  * would silently skip whatever committed while the query was down):
  * absent or `0` = snapshot of the head at first start, then the
  * tail; `latest` = tail only, from the head at first start;
  * an explicit `n` = tail only, rows committed after version n.
  *
  * Schema is pinned at stream start from the head manifest; additive
  * schema evolution mid-stream fails the batch loudly with a
  * restart-the-stream message instead of silently dropping the new
  * columns.
  */
class TxLogStream extends StreamSourceProvider with StreamSinkProvider
    with org.apache.spark.sql.sources.RelationProvider
    with org.apache.spark.sql.sources.CreatableRelationProvider
    with DataSourceRegister {
  override def shortName(): String = "graft-txlog"

  /** The BATCH half of the format (the streaming provider above made
    * `graft-txlog` a registered source; this makes it a TABLE):
    *
    *   spark.read.format("graft-txlog")
    *     .option("path", dir)
    *     .option("versionAsOf", "3")          // or timestampAsOf
    *     .load()
    *
    * and `CREATE TABLE t USING graft-txlog OPTIONS (path '...')` for
    * BI tools and notebooks that speak SQL, not the Scala API. The
    * relation is Spark's own `HadoopFsRelation` over
    * [[TxLogFileIndex]] — vectorized parquet, codegen, filter/column
    * pushdown all stock; the index contributes the manifest file list
    * (snapshot isolation + time travel), partition pruning, and
    * min/max data skipping. */
  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String])
      : org.apache.spark.sql.sources.BaseRelation = {
    val spark = sqlContext.sparkSession
    // batch change-data-feed door (Delta's readChangeFeed option
    // shape): serves TxLog.changes' diff frame instead of a snapshot
    val pLower = parameters.map { case (k, v) => k.toLowerCase -> v }
    if (pLower.get("readchangefeed").exists(_.toBoolean)) {
      require(!pLower.contains("versionasof") && !pLower.contains("timestampasof"),
        "graft-txlog: readChangeFeed takes startingVersion/endingVersion " +
          "(or starting/endingTimestamp) — versionAsOf/timestampAsOf are " +
          "snapshot options and do not combine with a change feed")
      return TxLogBatch.cdfRelation(spark, pLower)
    }
    val (path, m) = TxLogBatch.resolve(spark, parameters)
    // a huge-delete snapshot (DV rows above the broadcast budget —
    // priced from manifest counts, zero I/O) mounts through the
    // distributed anti-join seam instead of a driver-side collect
    if (TxLogBatch.dvRowCount(m) > TxLogBatch.dvBroadcastMaxRows(spark))
      return new TxLogJoinRelation(spark, path, m)
    TxLogBatch.relation(spark, path, m, wholeVersion = true,
      // DV-bearing or column-mapped snapshots read through the
      // manifest-aware format (DV rows filtered per file at scan time;
      // logical→physical rename translation on schemas and pushed
      // filters); plain snapshots keep the stock columnar parquet path
      fileFormat =
        if (m.dv.isEmpty && m.colMap.isEmpty)
          new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
        else new TxLogParquetFileFormat(path, m.colMap, m.dv.map(_._1),
          TxLogBatch.dvBroadcastFor(spark, path, m)),
      // bucket(n, c) hidden layouts mount as REAL bucketed relations:
      // joins/aggs on c plan shuffle-free (see TxLogBatch.bucketSpecOf)
      bucketSpec = TxLogBatch.bucketSpecOf(m),
      options = parameters)
  }

  /** `df.write.format("graft-txlog").mode(...)` — batch writes map to
    * the transactional verbs: Append → [[TxLog.append]], Overwrite →
    * [[TxLog.createOrReplace]] (history kept); a first write to an
    * empty path creates the table (`partitionBy` columns honored). */
  override def createRelation(sqlContext: SQLContext,
                              mode: org.apache.spark.sql.SaveMode,
                              parameters: Map[String, String],
                              data: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.sources.BaseRelation = {
    import org.apache.spark.sql.SaveMode
    val spark = sqlContext.sparkSession
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = p.getOrElse("path", throw new IllegalArgumentException(
      "graft-txlog: option 'path' (the TxLog table directory) is required"))
    val partCols = p.get("partitioncolumns").orElse(p.get("__partition_columns"))
      .map(s => s.replaceAll("[\\[\\]\" ]", "").split(',').filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    val exists = TxLog.currentVersion(spark, path).isDefined
    mode match {
      case SaveMode.Append =>
        if (!exists) TxLog.create(data, path, partitionCols = partCols)
        else TxLog.append(data, path)
      case SaveMode.Overwrite =>
        // a data-writer overwrite is NOT the DDL escape hatch: under
        // appendOnly it refuses like every other row-removing door
        // (redefinition stays available as the explicit TXLOG
        // CREATE OR REPLACE / REPLACE TABLE statements). Enforced at
        // COMMIT time inside createOrReplace (refuseAppendOnly): a
        // SET TBLPROPERTIES racing a pre-read here cannot slip the
        // overwrite through the redefinition path.
        // With option("replaceWhere", "<predicate>") the overwrite is
        // PREDICATE-SCOPED (Delta's replaceWhere): only the matching
        // region replaces, in one file-granular commit.
        p.get("replacewhere") match {
          case Some(pred) =>
            require(exists,
              s"graft-txlog: replaceWhere needs an existing table at $path")
            TxLog.replaceWhere(data, path,
              org.apache.spark.sql.functions.expr(pred))
          case None =>
            TxLog.createOrReplace(data, path, partitionCols = partCols,
              refuseAppendOnly = true)
        }
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalStateException(
          s"graft-txlog: table already exists at $path (mode ErrorIfExists)")
        TxLog.create(data, path, partitionCols = partCols)
      case SaveMode.Ignore =>
        if (!exists) TxLog.create(data, path, partitionCols = partCols)
    }
    createRelation(sqlContext, parameters)
  }

  override def sourceSchema(sqlContext: SQLContext,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): (String, StructType) =
    (shortName(), TxLogStream.schemaFor(sqlContext.sparkSession,
      TxLogStream.Opts(parameters)))

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val spark = sqlContext.sparkSession
    val opts = TxLogStream.Opts(parameters)
    new TxLogSource(spark, opts,
      TxLogStream.resolveStart(spark, opts, metadataPath))
  }

  /** `df.writeStream.format("graft-txlog")` — the sink side of the
    * symmetry: every micro-batch commits as one append version via
    * [[TxLog.appendBatch]], whose batch-id watermark makes crash
    * replays no-ops (exactly-once on top of the engine's checkpoint).
    * The table auto-creates EMPTY on first use (partition column from
    * `.partitionBy(col)`), then the first batch flows through the
    * same watermarked path — so a crash between create and first
    * commit replays cleanly too. Append output mode only. */
  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    require(outputMode == org.apache.spark.sql.streaming.OutputMode.Append(),
      s"graft-txlog sink supports Append output mode only, got $outputMode " +
        "(a TxLog append version per micro-batch IS append semantics)")
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    new TxLogSink(sqlContext.sparkSession,
      p.getOrElse("path", throw new IllegalArgumentException(
        "graft-txlog sink: option 'path' (the TxLog table directory) is required")),
      partitionColumns)
  }
}

/** The per-query sink instance (see [[TxLogStream.createSink]]). */
class TxLogSink(spark: SparkSession, path: String,
                partitionCols: Seq[String])
    extends org.apache.spark.sql.execution.streaming.Sink {
  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = StreamBridge.asBatchLeaf(data)
    if (TxLog.currentVersion(spark, path).isEmpty)
      TxLog.create(batch.limit(0), path, partitionCols = partitionCols)
    TxLog.appendBatch(batch, path, batchId)
  }
  override def toString: String = s"TxLogSink[$path]"
}

object TxLogStream {

  /** A stream position: every version before `v` is fully consumed,
    * plus the first `files` entries of `v`'s file list (the SNAPSHOT
    * list for the start version, the ADDED list for tail versions).
    * `files == -1` marks `v` fully consumed without knowing its size
    * (the tail-only start cursor — its predecessor manifests may be
    * vacuumed, so the size is deliberately never computed). */
  final case class TxOffset(v: Long, files: Int) extends Offset {
    override val json: String = s"""{"v":$v,"files":$files}"""
  }

  object TxOffset {
    def parse(o: Offset): TxOffset = o match {
      case t: TxOffset => t
      case other => // engine-restored offsets arrive serialized
        val node = new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(other.json)
        TxOffset(node.get("v").asLong(), node.get("files").asInt())
    }
  }

  /** The stream's start state: `snapshotV` is the version whose FULL
    * file list opens the stream; `consumed=true` means it is already
    * behind us (tail-only modes). */
  final case class Start(snapshotV: Long, consumed: Boolean) {
    def cursor: TxOffset = TxOffset(snapshotV, if (consumed) -1 else 0)
  }

  /** Parsed, validated source options (keys case-insensitive). */
  final case class Opts(path: String, cdf: Boolean, keys: Seq[String],
                        withPreimages: Boolean, since: Option[String],
                        sinceTs: Option[String],
                        maxVersionsPerBatch: Option[Long],
                        maxFilesPerBatch: Option[Int],
                        skipRewriteCommits: Boolean) {
    since.foreach { s =>
      require(s == "latest" || (s.nonEmpty && s.forall(_.isDigit)),
        s"graft-txlog: sinceVersion must be 'latest' or a version number, got '$s'")
    }
    require(since.isEmpty || sinceTs.isEmpty,
      "graft-txlog: pass sinceVersion OR sinceTimestamp, not both")
    maxVersionsPerBatch.foreach(m =>
      require(m > 0, s"graft-txlog: maxVersionsPerBatch must be positive, got $m"))
    maxFilesPerBatch.foreach(m =>
      require(m > 0, s"graft-txlog: maxFilesPerBatch must be positive, got $m"))
    if (cdf) {
      // keys present = the snapshot-diff feed; keys ABSENT = the
      // keyless write-time-capture feed (TxLog.changeFeed — needs
      // graft.changeDataFeed declared for row-changing commits)
      require(maxFilesPerBatch.isEmpty,
        "graft-txlog: maxFilesPerBatch applies to append mode only — the change " +
          "feed diffs whole version snapshots; use maxVersionsPerBatch")
      require(!skipRewriteCommits,
        "graft-txlog: skipRewriteCommits applies to append mode only — the " +
          "change feed handles rewrite history by design")
    }
  }

  object Opts {
    def apply(parameters: Map[String, String]): Opts = {
      val p = parameters.map { case (k, v) => k.toLowerCase -> v }
      Opts(
        path = p.getOrElse("path", throw new IllegalArgumentException(
          "graft-txlog: option 'path' (the TxLog table directory) is required")),
        cdf = p.get("readchangefeed").exists(_.toBoolean),
        keys = p.get("keys").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .getOrElse(Nil),
        withPreimages = p.get("withpreimages").exists(_.toBoolean),
        since = p.get("sinceversion"),
        sinceTs = p.get("sincetimestamp"),
        maxVersionsPerBatch = p.get("maxversionsperbatch").map(_.toLong),
        maxFilesPerBatch = p.get("maxfilesperbatch").map(_.toInt),
        skipRewriteCommits = p.get("skiprewritecommits").exists(_.toBoolean))
    }
  }

  /** Resolve the stream's start — and make it stable across restarts
    * by persisting it into the query's source-metadata dir on first
    * creation (the contract file-based v1 sources keep there).
    * Re-resolving `latest`/head on a restart would skip whatever
    * committed while the query was down — silent data loss between
    * the checkpointed offset and the new head. */
  def resolveStart(spark: SparkSession, opts: Opts, metadataPath: String): Start = {
    val p = new org.apache.hadoop.fs.Path(metadataPath, "graft-txlog-start")
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    def read(): Start = {
      val in = fs.open(p)
      val node = try new com.fasterxml.jackson.databind.ObjectMapper()
        .readTree(in.readAllBytes())
      finally in.close()
      Start(node.get("v").asLong(), node.get("consumed").asBoolean())
    }
    if (fs.exists(p)) read()
    else {
      def head: Long = TxLog.currentVersion(spark, opts.path).getOrElse(0L)
      // sinceTimestamp resolves to "tail after the version live at that
      // instant" — rows committed AFTER the instant flow, the snapshot
      // as of it does not (the tail-only contract, time-addressed).
      // Like every start mode, resolved ONCE and persisted below.
      val sinceResolved: Option[String] = opts.sinceTs
        .map(ts => TxLog.versionAt(spark, opts.path,
          TxLog.parseTsMillis(ts)).toString)
        .orElse(opts.since)
      val start = sinceResolved match {
        case Some("latest") => Start(head, consumed = true)
        case Some(n) if n.toLong > 0L =>
          // a start beyond the head would silently swallow every commit
          // up to it — the user almost certainly meant 'latest' or typo'd
          require(n.toLong <= head,
            s"graft-txlog: sinceVersion=$n is beyond the table head (v$head) " +
              "— commits made after the stream starts flow automatically; " +
              "use sinceVersion=latest to start at the head")
          Start(n.toLong, consumed = true)
        case _ => Start(head, consumed = false) // absent or 0: snapshot first
      }
      fs.mkdirs(p.getParent)
      try {
        val out = fs.create(p, false)
        try out.write(s"""{"v":${start.snapshotV},"consumed":${start.consumed}}"""
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
        finally out.close()
        start
      } catch {
        // lost a create race (a recovery retry of the same query):
        // the first writer's start is THE start — read it back
        case _: java.io.IOException if fs.exists(p) => read()
      }
    }
  }

  /** Stream schema: the head manifest's declared table schema, plus
    * `_change_type` in change-feed mode. The table must exist before
    * the stream starts (same as Delta). */
  def schemaFor(spark: SparkSession, opts: Opts): StructType = {
    val head = TxLog.currentVersion(spark, opts.path).getOrElse(
      throw new IllegalArgumentException(
        s"graft-txlog: no TxLog table at ${opts.path} — create it first"))
    val table = StructType.fromDDL(TxLog.manifest(spark, opts.path, head).schemaDdl)
    if (opts.cdf && opts.keys.isEmpty)
      // the keyless capture feed carries the commit stamps too
      StructType(table.fields ++ Seq(
        StructField("_change_type", StringType, nullable = false),
        StructField("_commit_version", org.apache.spark.sql.types.LongType,
          nullable = false),
        StructField("_commit_timestamp",
          org.apache.spark.sql.types.TimestampType)))
    else if (opts.cdf)
      StructType(table.fields :+ StructField("_change_type", StringType, nullable = false))
    else table
  }
}

/** The per-query source instance. Stateless beyond the rate-limit
  * cursor: offsets map to manifest state, so batch contents derive
  * entirely from the immutable commit log. */
class TxLogSource(spark: SparkSession, opts: TxLogStream.Opts,
                  start: TxLogStream.Start) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import TxLogStream.TxOffset
  import org.apache.spark.sql.functions.{col, lit}

  private val path = opts.path

  // ---- Trigger.AvailableNow (the batch-orchestrated incremental
  // pattern): the engine calls prepareForTriggerAvailableNow once at
  // query start; we PIN the head that exists at that instant and the
  // offset walk below never advances past it — so the query drains to
  // a fixed target under the normal rate limits (bounded catch-up in
  // maxVersionsPerBatch/maxFilesPerBatch-sized micro-batches) and
  // terminates, while commits landing mid-drain wait for the next
  // scheduled run. Without this the engine would fall back to ONE
  // unbounded batch (and warn), defeating the pacing. KafkaSource
  // wires the same V1-source + admission-control seam. ----
  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = TxLog.currentVersion(spark, path)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit =
    org.apache.spark.sql.connector.read.streaming.ReadLimit.allAvailable()

  /** Admission-control seam: the progressive cursor (`lastSeen`) plus
    * the option-driven budgets already encode the pacing, so the
    * engine-passed start/limit are advisory here. */
  override def latestOffset(
      startOffset: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset =
    getOffset.orNull

  override val schema: StructType = TxLogStream.schemaFor(spark, opts)

  // the TABLE's own columns = the stream schema minus the feed's meta
  // columns (one in keyed CDF mode, three in keyless mode)
  private val tableCols: Seq[String] =
    (if (opts.cdf && opts.keys.isEmpty) schema.fields.dropRight(3)
     else if (opts.cdf) schema.fields.dropRight(1)
     else schema.fields).map(_.name).toSeq

  /** The file list a cursor at version `w` indexes: the full snapshot
    * for the start version, the commit's ADDED files for the tail
    * (loud refusal on rewrites, checked per version pair). With
    * `skipRewriteCommits=true` a rewriting commit (OPTIMIZE / merge /
    * delete) is SKIPPED whole instead — lossless for compactions,
    * whose adds only re-house already-delivered rows, but a skipped
    * MERGE also drops its genuinely-new rows (the same caveat Delta
    * documents for skipChangeCommits; use the change feed when merges
    * carry data the consumer needs). A DELETION-VECTOR commit changes
    * rows without touching files: the tail refuses it loudly
    * (addedFiles' DV guard), and under skipRewriteCommits it
    * contributes no files — skipped like any other row-changing
    * commit, same caveat. Append mode only — the change
    * feed never plans at file granularity. */
  private def filesOf(w: Long): Seq[String] =
    if (w == start.snapshotV) TxLog.manifest(spark, path, w).files
    else if (!opts.skipRewriteCommits) TxLog.addedFiles(spark, path, w)
    else {
      val cur = TxLog.manifest(spark, path, w)
      val prev = TxLog.manifest(spark, path, w - 1)
      val curSet = cur.files.toSet
      if (prev.files.exists(f => !curSet.contains(f))) Nil // rewrite: skip
      else {
        val prevSet = prev.files.toSet
        cur.files.filterNot(prevSet)
      }
    }

  /** Version sizes are immutable once committed — memoized so the
    * per-trigger offset walk costs one manifest diff per NEW version,
    * not per poll. */
  private val sizeCache = scala.collection.mutable.HashMap.empty[Long, Int]
  private def sizeOf(w: Long): Int = sizeCache.getOrElseUpdate(w, filesOf(w).size)

  /** Rate-limit cursor: the highest offset the ENGINE is known to
    * have planned or committed. Starts at the resolved start and
    * syncs from every getBatch/commit — including the ones the engine
    * makes while RECOVERING a checkpointed query (a committed last
    * batch replays as commit(), an uncommitted one as getBatch()), so
    * a restart resumes exactly where the offset log says, never where
    * this instance guesses. Correctness never depends on it — offsets
    * the engine already committed are simply ignored on re-announce. */
  @volatile private var lastSeen: TxOffset = start.cursor

  private def geq(a: TxOffset, b: TxOffset): Boolean =
    a.v > b.v || (a.v == b.v && (a.files == -1 || (b.files != -1 && a.files >= b.files)))

  override def getOffset: Option[Offset] = {
    val head0 = TxLog.currentVersion(spark, path).getOrElse(return None)
    // under AvailableNow, drain exactly to the pinned start-time head
    val head = availableNowCap.fold(head0)(math.min(head0, _))
    val cur = lastSeen
    if (opts.cdf) {
      // version-granular only: the change feed diffs whole snapshots
      // and exists precisely for rewrite history, so the file walk
      // (which refuses rewrites) never runs here. files == 0 marks
      // the initial snapshot still pending at cur.v.
      val cap = opts.maxVersionsPerBatch
        .fold(head)(m => math.min(head, cur.v + m))
      if (cap > cur.v || (cap == cur.v && cur.files == 0))
        Some(TxOffset(cap, -1))
      else None
    } else {
      var v = cur.v
      // -1 = fully consumed: advance past it without computing its size
      var f = cur.files
      var fileBudget = opts.maxFilesPerBatch.getOrElse(Int.MaxValue)
      var versionBudget = opts.maxVersionsPerBatch.getOrElse(Long.MaxValue)
      var advanced = false
      var done = false
      while (!done && fileBudget > 0) {
        val remaining = if (f == -1) 0 else {
          val size = sizeOf(v)
          if (f >= size) 0 else size - f
        }
        if (remaining > 0) {
          val take = math.min(remaining, fileBudget)
          f += take; fileBudget -= take
          advanced = true
        } else if (v < head && versionBudget > 0) {
          v += 1; f = 0; versionBudget -= 1
          // entering a fresh EMPTY version still advances the offset
          advanced = advanced || sizeOf(v) == 0
        } else done = true
      }
      val next = TxOffset(v, f)
      if (advanced && !geq(cur, next)) Some(next) else None
    }
  }

  override def commit(end: Offset): Unit = {
    val o = TxOffset.parse(end)
    if (!geq(lastSeen, o)) lastSeen = o
  }

  override def getBatch(startO: Option[Offset], end: Offset): DataFrame = {
    val from = startO.map(TxOffset.parse).getOrElse(start.cursor)
    val to = TxOffset.parse(end)
    if (!geq(lastSeen, to)) lastSeen = to
    if (geq(from, to)) return StreamBridge.emptyStreaming(spark, schema)
    val batch: DataFrame =
      if (!opts.cdf) {
        val files = (from.v to to.v).flatMap { w =>
          // a fully-consumed start version contributes nothing — and in
          // tail-only mode its manifest may already be vacuumed, so it
          // must not even be READ
          if (w == from.v && from.files == -1) Nil
          else {
            val all = filesOf(w)
            val lo = if (w == from.v) from.files else 0
            val hi = if (w == to.v) (if (to.files == -1) all.size else to.files) else all.size
            all.slice(lo, hi)
          }
        }
        if (files.isEmpty) return StreamBridge.emptyStreaming(spark, schema)
        val df = TxLog.readFileList(spark, path, to.v, files)
        checkNoDrift(df, to.v)
        df.select(tableCols.map(col): _*)
      } else {
        val metaCols =
          if (opts.keys.nonEmpty) Seq("_change_type")
          else Seq("_change_type", "_commit_version", "_commit_timestamp")
        // files == 0 marks the pending initial snapshot: deliver the
        // state at to.v as inserts (covers any extra versions folded
        // into the same first batch — net state IS the initial load)
        val df = if (from.files == 0) {
          val snap = TxLog.read(spark, path, Some(to.v))
            .withColumn("_change_type", lit("insert"))
          if (opts.keys.nonEmpty) snap
          else snap
            .withColumn("_commit_version", lit(to.v))
            .withColumn("_commit_timestamp",
              TxLog.manifest(spark, path, to.v).ts
                .map(t => lit(new java.sql.Timestamp(t)))
                .getOrElse(lit(null)).cast("timestamp"))
        } else if (opts.keys.nonEmpty)
          TxLog.changes(spark, path, from.v, to.v, opts.keys,
            withPreimages = opts.withPreimages)
        else
          // keyless: the write-time capture feed — O(changed rows)
          // per micro-batch, exact preimages, duplicate-row tables
          TxLog.changeFeed(spark, path, from.v, to.v)
        checkNoDrift(metaCols.foldLeft(df)(_ drop _), to.v)
        df.select((tableCols ++ metaCols).map(col): _*)
      }
    StreamBridge.asStreamingLeaf(batch)
  }

  /** The stream's schema is pinned at start; if the table's schema
    * evolved since, fail the batch with instructions instead of
    * silently projecting the new columns away. */
  private def checkNoDrift(df: DataFrame, version: Long): Unit = {
    val got = df.schema.fields.map(f => f.name -> f.dataType).toSeq
    val want = tableCols.map(c => c -> schema(c).dataType)
    if (got.sortBy(_._1) != want.sortBy(_._1))
      throw new IllegalStateException(
        s"graft-txlog: table schema at $path changed mid-stream (v$version reads " +
          s"[${got.map(_._1).mkString(", ")}], stream pinned [${tableCols.mkString(", ")}]) " +
          "— restart the streaming query to pick up the evolved schema")
  }

  override def stop(): Unit = ()

  override def toString: String =
    s"TxLogSource[$path, ${if (opts.cdf) "changeFeed" else "appends"}, " +
      s"start=${start.cursor.json}]"
}
