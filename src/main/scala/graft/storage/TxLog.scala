package graft.storage

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Manifest-based atomic table commits over plain parquet — the
  * transaction-log pattern (what a Delta/Iceberg commit does) with no
  * extra storage format: a TABLE is a directory whose live content is
  * defined by the newest manifest, never by what files happen to sit
  * in it.
  *
  * Layout:
  * {{{
  *   <table>/data/[<part>=<v>/]<commit-uuid>-part-*.parquet   immutable data files
  *   <table>/_manifests/v<N>.json                             one commit per version
  *   <table>/_manifests/v<K>.ckpt/                            parquet checkpoint of the
  *                                                            resolved state at version K
  * }}}
  *
  * A commit file defines one table VERSION. Three shapes, all carrying
  * the version's RESOLVED metadata (schema, partition column, stats
  * columns, streaming watermark) so any commit is metadata-
  * self-describing:
  *
  *  - **full** — the explicit file list (+ per-file stats/rows).
  *    Written by [[create]] and [[clone]], where every file is new
  *    anyway.
  *  - **delta** — `removeDirs` (partition dirs whose pre-existing
  *    files drop) + `add` (new entries with their stats/rows). Written
  *    by every data commit: the JSON is O(files CHANGED), never
  *    O(files in table) — at the 100 TB scale (10^5-10^6 live files) a
  *    commit serializes kilobytes, not a 100 MB file enumeration.
  *  - **ref** — `baseRef: M`: this version's files are exactly
  *    version M's ([[restore]]'s zero-data rollback, now also
  *    zero-metadata).
  *
  * Readers RESOLVE a snapshot by walking back from the requested
  * version to the nearest resolved base — an LRU-cached snapshot, a
  * parquet checkpoint, or a full commit — then applying the delta
  * chain forward (bounded by the checkpoint interval, default every
  * 10 commits, `graft.txlog.checkpointInterval`). Checkpoints are
  * COLUMNAR (a parquet enumeration of file/rows/stats written by a
  * distributed job and renamed into place), so the full file list is
  * never parsed through one JSON tree; they are an optimization only —
  * deleting one merely lengthens the replay, exactly Delta's
  * checkpoint contract.
  *
  * Every write creates NEW files — staged under `_staging_<uuid>`,
  * moved into `data/`, and made visible by ONE atomic commit-file
  * rename. Files referenced by any retained commit are never mutated
  * or deleted, so:
  *
  *  - **Snapshot isolation**: a reader resolves exactly one manifest;
  *    it sees version N or version N+1 in full, never a mix. A
  *    DataFrame resolved before a commit keeps reading its own
  *    snapshot's files afterwards (they still exist until [[vacuum]]).
  *  - **Time travel**: `read(path, Some(v))` reproduces any retained
  *    version bit-for-bit.
  *  - **Cheap merges**: [[mergeInto]] rewrites only touched
  *    partitions' files; untouched partitions' files are carried into
  *    the new manifest BY REFERENCE and stay byte-identical on disk.
  *
  * Commit protocol: the manifest is written to a temp name and
  * `rename`d to `v<N+1>.json` after checking N+1 is still absent —
  * optimistic concurrency for the single-writer/many-reader case this
  * targets. (Object stores without atomic rename need an external
  * commit lock, the same caveat Delta documents for S3.) Partition
  * values must stringify to filesystem-safe directory names (the same
  * contract as Spark's own dynamic partition overwrite).
  *
  * Scale shape: commits are O(changed files); snapshot resolution is
  * one columnar checkpoint read plus ≤interval small deltas, cached
  * per (table, version) after the first resolution. Reads plan from
  * the explicit resolved file list, so partition pruning and column
  * pruning work exactly as on a plain parquet table (`basePath`
  * recovers the partition column).
  */
object TxLog {

  /** `sourceBatchId` is the streaming ingest WATERMARK: the highest
    * micro-batch id committed at or before this version. Batch commits
    * set it; every other commit (append/merge/compact) CARRIES IT
    * FORWARD, so a maintenance commit interleaved between a batch and
    * its crash-replay cannot defeat [[appendBatch]]'s idempotency
    * check.
    *
    * `statsCols`/`fileStats` are the DATA-SKIPPING sidecar (Delta's
    * per-file min/max in spirit): for each tracked column, every data
    * file records its min/max as strings (typed back via the declared
    * schema at planning time). Stats are computed ONCE per file at
    * commit time — by-reference carries keep their entries, rewritten
    * files drop them — so the skip index costs one bounded aggregate
    * per commit, never a table rescan. Files without an entry are
    * conservatively unprunable. */
  case class Manifest(version: Long, partitionCols: Seq[String],
                      schemaDdl: String, files: Seq[String],
                      sourceBatchId: Option[Long] = None,
                      statsCols: Seq[String] = Nil,
                      fileStats: Map[String, Map[String, (String, String)]] = Map.empty,
                      fileRows: Map[String, Long] = Map.empty,
                      constraints: Seq[(String, String)] = Nil,
                      uniques: Seq[(String, Seq[String])] = Nil,
                      ts: Option[Long] = None,
                      minWriter: Int = 1,
                      colMap: Seq[(String, String)] = Nil,
                      dv: Seq[(String, Map[String, Long])] = Nil,
                      partitionSpec: Seq[String] = Nil,
                      txns: Map[String, Long] = Map.empty,
                      fileNulls: Map[String, Map[String, Long]] = Map.empty)

  /** Deletion-vector state: each element is one DV parquet file
    * (relative to `<table>/_dv/`) holding (file-key, row_index) rows,
    * with the per-target-entry deleted-row counts. A DV DELETE
    * commits this metadata instead of rewriting the matched files —
    * zero data movement for a needle delete; reads anti-join the
    * (broadcast-sized) DV rows; OPTIMIZE materializes (its rewrite
    * reads through the filtered view, and entries whose target file
    * left the manifest prune out of the carried state, so the list is
    * self-maintaining and bounded by un-materialized deletes). */
  private def dvLiveFor(dv: Seq[(String, Map[String, Long])],
                        liveFiles: Set[String]): Seq[(String, Map[String, Long])] =
    dv.map { case (f, entries) =>
      f -> entries.view.filterKeys(liveFiles).toMap
    }.filter(_._2.nonEmpty)

  /** Column mapping: the PHYSICAL name a logical column's data lives
    * under in the files. Identity for never-renamed columns;
    * [[renameColumn]] adds (newLogical -> originalPhysical) entries so
    * a rename is a METADATA commit — zero file rewrites, old versions
    * keep their own names, CDF matches rows across the rename by
    * physical identity. Stats keys, Bloom sidecar dirs, and partition
    * directory names are all expressed in PHYSICAL names (they live
    * next to the files and never change). */
  private def physOf(m: Manifest, logical: String): String =
    m.colMap.find(_._1 == logical).map(_._2).getOrElse(logical)

  /** The schema as the FILES spell it (logical schema with renamed
    * fields back at their physical names). */
  private def physicalize(schema: StructType,
                          colMap: Seq[(String, String)]): StructType =
    if (colMap.isEmpty) schema
    else StructType(schema.fields.map { f =>
      colMap.find(_._1 == f.name).map(e => f.copy(name = e._2)).getOrElse(f)
    })

  /** Rename a logical-named frame to physical names before staging —
    * files always spell the PHYSICAL schema. */
  private def toPhysical(df: DataFrame,
                         colMap: Seq[(String, String)]): DataFrame =
    colMap.foldLeft(df) { case (d, (l, p)) =>
      if (d.columns.contains(l)) d.withColumnRenamed(l, p) else d
    }

  /** The partition columns as the DIRECTORIES spell them. */
  /** The manifest's hidden partition transforms, parsed against its
    * declared schema (empty for plain tables). Every write path stages
    * through these so rewritten files land back in their derived
    * directories. */
  private def transformsOf(m: Manifest): Seq[PartitionTransforms.Transform] =
    PartitionTransforms.parseAll(m.partitionSpec,
      StructType.fromDDL(m.schemaDdl))

  private def physPartCols(m: Manifest): Seq[String] =
    m.partitionCols.map(c => physOf(m, c))

  private val mapper = new ObjectMapper()

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new java.net.URI(path), spark.sparkContext.hadoopConfiguration)

  private def manifestDir(path: String) = new Path(path, "_manifests")
  private def dataDir(path: String) = new Path(path, "data")

  private def versionOf(p: Path): Option[Long] = {
    val n = p.getName
    if (n.startsWith("v") && n.endsWith(".json"))
      n.substring(1, n.length - 5).toLongOption
    else None
  }

  /** Best-effort head HINT (`_manifests/_head`), the `_last_checkpoint`
    * pattern: every commit overwrites it after its rename lands, so
    * head resolution is one small read + a forward probe instead of
    * listing an O(versions) directory — the difference between a
    * streaming source polling a long-lived table every trigger and a
    * directory scan per poll. The hint is only ever trusted as a
    * LOWER bound (writes are best-effort and racing committers can
    * interleave overwrites backwards), and a hint whose version file
    * is missing or unparseable falls back to the full listing. */
  private def headHintPath(path: String) = new Path(manifestDir(path), "_head")

  private[storage] def writeHeadHint(fs: FileSystem, path: String,
                                     version: Long): Unit =
    try {
      val out = fs.create(headHintPath(path), true)
      try out.write(version.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    } catch { case _: java.io.IOException => () } // an optimization, never a failure

  /** Newest committed version, or None for a non-table path. */
  def currentVersion(spark: SparkSession, path: String): Option[Long] = {
    val fs = fsFor(spark, path)
    val dir = manifestDir(path)
    if (!fs.exists(dir)) return None
    val hinted: Option[Long] =
      try {
        val hp = headHintPath(path)
        if (!fs.exists(hp)) None
        else {
          val in = fs.open(hp)
          val s = try new String(in.readAllBytes(),
            java.nio.charset.StandardCharsets.UTF_8).trim
          finally in.close()
          s.toLongOption.filter(v => fs.exists(new Path(dir, s"v$v.json")))
        }
      } catch { case _: java.io.IOException => None }
    hinted match {
      case Some(n) =>
        // lower bound: probe forward for commits the hint missed
        var v = n
        while (fs.exists(new Path(dir, s"v${v + 1}.json"))) v += 1
        Some(v)
      case None =>
        fs.listStatus(dir).toSeq.flatMap(s => versionOf(s.getPath)).maxOption
    }
  }

  // ------------------------------------------------------------------
  // Snapshot resolution: cache + checkpoints + delta replay
  // ------------------------------------------------------------------

  private def ckptDir(path: String, v: Long): Path =
    new Path(manifestDir(path), s"v$v.ckpt")

  /** Resolved-snapshot LRU, keyed `path@version`. A version's content
    * is immutable once its commit file renames into place, so entries
    * never go stale — except when a table is DROPPED AND RECREATED at
    * the same path or vacuumed ([[create]]/[[clone]]/[[vacuum]]
    * invalidate the path). Capacity is small on purpose: a resolved
    * snapshot of a big table is O(files) driver memory, and one warm
    * head entry is what the commit/read hot path needs. */
  private val snapCache = new java.util.LinkedHashMap[String, Manifest](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Manifest]): Boolean = size > 8
  }
  /** Cache keys are the FULLY-QUALIFIED path ("file:/tmp/t" and
    * "/tmp/t" are the same table; a raw-string key would let a
    * create/vacuum through one spelling leave the other spelling's
    * stale snapshots alive — planning reads over deleted files). */
  private def cacheKey(spark: SparkSession, path: String): String =
    try fsFor(spark, path).makeQualified(new Path(path)).toString
    catch { case scala.util.control.NonFatal(_) => path }
  private def cacheGet(spark: SparkSession, path: String, v: Long): Option[Manifest] =
    snapCache.synchronized(Option(snapCache.get(s"${cacheKey(spark, path)}@$v")))
  private def cachePut(spark: SparkSession, path: String, m: Manifest): Unit =
    snapCache.synchronized {
      snapCache.put(s"${cacheKey(spark, path)}@${m.version}", m); ()
    }
  private def cacheInvalidate(spark: SparkSession, path: String): Unit =
    snapCache.synchronized {
      val prefix = cacheKey(spark, path) + "@"
      val it = snapCache.keySet().iterator()
      while (it.hasNext) if (it.next().startsWith(prefix)) it.remove()
    }

  /** Test/diagnostics hook: drop every cached snapshot (forces cold
    * resolution — what a fresh driver pays). */
  private[graft] def flushSnapshotCacheForTesting(): Unit =
    snapCache.synchronized(snapCache.clear())

  /** The commit-format protocol this build writes and the highest it
    * can read. Every commit records its writer's protocol; a reader
    * that encounters a HIGHER one refuses loudly (Delta's
    * minReaderVersion contract) — a future format change must never
    * be half-parsed into a silently wrong snapshot. Absent field =
    * protocol 1 (the pre-field commits).
    *
    * Evolution stance for the governance fields (`constraints`,
    * `uniqueConstraints`, `operation`, `statsCols`): they are
    * ADDITIVE under protocol 1 — an older protocol-1 build reads such
    * a table correctly but does not ENFORCE the newer fields when
    * writing (the same bootstrap caveat Delta's pre-invariant writers
    * had: a guard can only bind builds that already know the rule).
    * Any future change where non-enforcement would CORRUPT rather
    * than merely under-check must bump ProtocolVersion, refusing old
    * readers and writers both.
    *
    * Protocol 2 (reader-gating, per-COMMIT): a delta commit may carry
    * `removeFiles` — individual manifest entries dropped by a
    * file-granular MERGE/DELETE rewrite. A protocol-1 reader replaying
    * such a delta would silently KEEP the removed files (resurrected
    * rows — corruption), so exactly those commits are stamped
    * protocol 2 and refuse old readers; every other commit stays
    * protocol 1, and a post-removeFiles CHECKPOINT heals old readers
    * for the versions at or after it (resolution from a checkpoint
    * never replays the protocol-2 delta). */
  val ProtocolVersion = 2

  /** The writer-feature generation this build implements, and the
    * gate [[Manifest.minWriter]] checks against (Delta's
    * minWriterVersion): a table whose head demands a NEWER writer
    * refuses every write from this build rather than half-enforcing
    * invariants it does not know. Generation 2 = write-time CHECK +
    * UNIQUE constraint enforcement: the first ADD CONSTRAINT raises
    * the table's `minWriter` to 2, so any FUTURE build that only
    * implements generation 1 refuses to append un-vetted rows instead
    * of silently admitting violations. (Builds that predate the field
    * check nothing — the documented bootstrap caveat; the guard binds
    * every build that knows the rule.) Reads are ungated by this:
    * constraint metadata is advisory to a reader.
    *
    * Generation 3 = per-app transaction watermarks ([[Manifest.txns]],
    * Delta's SetTransaction): every commit must CARRY the map forward.
    * A generation-2 writer would drop it, silently re-opening the door
    * to a replayed idempotent batch (duplicate rows) — so the first
    * [[appendTxn]] raises the table's `minWriter` to 3. Reads stay
    * ungated: the map is writer bookkeeping, invisible to queries.
    *
    * Generation 4 = IDENTITY columns ([[setColumnIdentity]]): every
    * INSERT-shaped commit must FILL the column from the manifest's
    * high-water mark and advance it. A generation-3 writer would
    * append NULL ids (checkSchema admits missing declared columns) —
    * so declaring identity raises the table's `minWriter` to 4.
    *
    * Generation 5 = ENFORCED table properties ([[setProperties]] with
    * `graft.appendOnly=true`): every row-removing verb must refuse.
    * A generation-4 writer carries the property blindly but would
    * still DELETE — so setting the switch raises the table's
    * `minWriter` to 5 and older builds refuse all writes rather than
    * half-honor the protection. Free-form (un-enforced) properties
    * never raise the gate: any generation carries the constraints
    * channel forward verbatim. */
  val WriterVersion = 5

  /** Refuse writes demanded-newer than this build (never gates reads). */
  private def requireWritable(m: Manifest, path: String): Unit =
    if (m.minWriter > WriterVersion)
      throw new UnsupportedOperationException(
        s"TxLog: table at $path requires writer generation ${m.minWriter}; " +
          s"this build implements $WriterVersion — upgrade the library to " +
          "write this table (reads still work)")

  private def readCommitNode(spark: SparkSession, path: String,
                             version: Long): com.fasterxml.jackson.databind.JsonNode = {
    val fs = fsFor(spark, path)
    val p = new Path(manifestDir(path), s"v$version.json")
    require(fs.exists(p), s"TxLog: no manifest v$version at $path " +
      "(vacuumed or never committed)")
    val in = fs.open(p)
    val bytes = try in.readAllBytes() finally in.close()
    val node = mapper.readTree(bytes)
    val proto = Option(node.get("protocol")).map(_.asInt()).getOrElse(1)
    if (proto > ProtocolVersion)
      throw new UnsupportedOperationException(
        s"TxLog: commit v$version at $path uses protocol $proto; this build " +
          s"reads up to protocol $ProtocolVersion — upgrade the library to " +
          "read this table")
    node
  }

  /** The resolved metadata every commit shape carries. Absent
    * `constraints`/`uniqueConstraints` = none, absent `minWriter` = 1,
    * absent `ts` = untracked (pre-field commits). */
  private case class CMeta(version: Long, partitionCols: Seq[String],
                           schemaDdl: String, sourceBatchId: Option[Long],
                           statsCols: Seq[String],
                           constraints: Seq[(String, String)],
                           uniques: Seq[(String, Seq[String])],
                           ts: Option[Long], minWriter: Int,
                           colMap: Seq[(String, String)],
                           dv: Seq[(String, Map[String, Long])],
                           partitionSpec: Seq[String],
                           txns: Map[String, Long])

  private def nodeMeta(node: com.fasterxml.jackson.databind.JsonNode): CMeta = CMeta(
    node.get("version").asLong(),
    // multi-column layouts write a `partitionCols` ARRAY (and null the
    // legacy scalar); single-column tables keep the legacy field so
    // pre-field readers stay compatible
    Option(node.get("partitionCols")).map(a =>
        (0 until a.size()).map(a.get(_).asText()).toSeq)
      .getOrElse(Option(node.get("partitionCol")).filter(!_.isNull)
        .map(_.asText()).toSeq),
    node.get("schemaDdl").asText(),
    Option(node.get("sourceBatchId")).filter(!_.isNull).map(_.asLong()),
    Option(node.get("statsCols")).map(a =>
      (0 until a.size()).map(a.get(_).asText())).getOrElse(Seq.empty),
    Option(node.get("constraints")).map(a =>
      (0 until a.size()).map { i =>
        val e = a.get(i)
        e.get("name").asText() -> e.get("check").asText()
      }).getOrElse(Seq.empty),
    Option(node.get("uniqueConstraints")).map(a =>
      (0 until a.size()).map { i =>
        val e = a.get(i)
        val cols = e.get("cols")
        e.get("name").asText() ->
          (0 until cols.size()).map(cols.get(_).asText())
      }).getOrElse(Seq.empty),
    Option(node.get("ts")).map(_.asLong()),
    Option(node.get("minWriter")).map(_.asInt()).getOrElse(1),
    Option(node.get("colMap")).map(a =>
      (0 until a.size()).map { i =>
        val e = a.get(i)
        e.get("l").asText() -> e.get("p").asText()
      }).getOrElse(Seq.empty),
    Option(node.get("dv")).map(a =>
      (0 until a.size()).map { i =>
        val e = a.get(i)
        val ent = e.get("entries")
        val it = ent.fieldNames()
        e.get("file").asText() ->
          Iterator.continually(if (it.hasNext) it.next() else null)
            .takeWhile(_ != null).map(k => k -> ent.get(k).asLong()).toMap
      }).getOrElse(Seq.empty),
    Option(node.get("partitionSpec")).map(a =>
      (0 until a.size()).map(a.get(_).asText()).toSeq).getOrElse(Seq.empty),
    Option(node.get("txn")).map { t =>
      val it = t.fieldNames()
      Iterator.continually(if (it.hasNext) it.next() else null)
        .takeWhile(_ != null).map(a => a -> t.get(a).asLong()).toMap
    }.getOrElse(Map.empty))

  /** Parse a FULL commit (create/clone, and every pre-delta-format
    * manifest — the legacy one-JSON-per-version shape stays readable). */
  private def parseFull(node: com.fasterxml.jackson.databind.JsonNode): Manifest = {
    val c = nodeMeta(node)
    val files = (0 until node.get("files").size()).map(node.get("files").get(_).asText())
    val fileStats = Option(node.get("fileStats")).map { fsNode =>
      val it = fsNode.fieldNames()
      Iterator.continually(if (it.hasNext) it.next() else null)
        .takeWhile(_ != null).map { f =>
          val colsNode = fsNode.get(f)
          val cit = colsNode.fieldNames()
          f -> Iterator.continually(if (cit.hasNext) cit.next() else null)
            .takeWhile(_ != null).map { c =>
              val arr = colsNode.get(c)
              c -> ((arr.get(0).asText(), arr.get(1).asText()))
            }.toMap
        }.toMap
    }.getOrElse(Map.empty[String, Map[String, (String, String)]])
    val fileRows = Option(node.get("fileRows")).map { rNode =>
      val it = rNode.fieldNames()
      Iterator.continually(if (it.hasNext) it.next() else null)
        .takeWhile(_ != null).map(f => f -> rNode.get(f).asLong()).toMap
    }.getOrElse(Map.empty[String, Long])
    val fileNulls = Option(node.get("fileNulls")).map { nNode =>
      val it = nNode.fieldNames()
      Iterator.continually(if (it.hasNext) it.next() else null)
        .takeWhile(_ != null).map { f =>
          val colsNode = nNode.get(f)
          val cit = colsNode.fieldNames()
          f -> Iterator.continually(if (cit.hasNext) cit.next() else null)
            .takeWhile(_ != null).map(c => c -> colsNode.get(c).asLong()).toMap
        }.toMap
    }.getOrElse(Map.empty[String, Map[String, Long]])
    Manifest(c.version, c.partitionCols, c.schemaDdl, files, c.sourceBatchId,
      c.statsCols, fileStats, fileRows, c.constraints, c.uniques, c.ts,
      c.minWriter, c.colMap, c.dv, c.partitionSpec, c.txns, fileNulls)
  }

  /** Apply one DELTA commit to its predecessor's resolved state —
    * exactly the transition [[commitRebase]] computed when it wrote
    * the delta: files under `removeDirs` drop (with their stats/rows
    * entries), `add` entries append with theirs, metadata comes from
    * the delta's stored RESOLVED values. */
  private def applyDelta(state: Manifest,
                         node: com.fasterxml.jackson.databind.JsonNode): Manifest = {
    val c = nodeMeta(node)
    val rm = Option(node.get("removeDirs")).map(a =>
      (0 until a.size()).map(a.get(_).asText()).toSet).getOrElse(Set.empty[String])
    // file-granular rewrite sets (protocol-2 commits): individual
    // entries dropped by a stats-pruned MERGE/DELETE
    val rmFiles = Option(node.get("removeFiles")).map(a =>
      (0 until a.size()).map(a.get(_).asText()).toSet).getOrElse(Set.empty[String])
    val addsN = node.get("add")
    val adds = (0 until addsN.size()).map(addsN.get)
    val addFiles = adds.map(_.get("f").asText())
    val addRows = adds.flatMap(e =>
      Option(e.get("rows")).map(r => e.get("f").asText() -> r.asLong())).toMap
    val addStats = adds.flatMap { e =>
      Option(e.get("stats")).map { s =>
        val cit = s.fieldNames()
        e.get("f").asText() -> Iterator
          .continually(if (cit.hasNext) cit.next() else null)
          .takeWhile(_ != null).map { c =>
            val arr = s.get(c)
            c -> ((arr.get(0).asText(), arr.get(1).asText()))
          }.toMap
      }
    }.toMap
    val addNulls = adds.flatMap { e =>
      Option(e.get("nulls")).map { s =>
        val cit = s.fieldNames()
        e.get("f").asText() -> Iterator
          .continually(if (cit.hasNext) cit.next() else null)
          .takeWhile(_ != null).map(c => c -> s.get(c).asLong()).toMap
      }
    }.toMap
    val kept =
      if (rm.isEmpty && rmFiles.isEmpty) state.files
      else state.files.filterNot(f => rm.contains(dirOf(f)) || rmFiles.contains(f))
    val keptSet = kept.toSet
    Manifest(c.version, c.partitionCols, c.schemaDdl, kept ++ addFiles,
      c.sourceBatchId, c.statsCols,
      if (c.statsCols.isEmpty) Map.empty
      else state.fileStats.view.filterKeys(keptSet).toMap ++ addStats,
      state.fileRows.view.filterKeys(keptSet).toMap ++ addRows,
      c.constraints, c.uniques, c.ts, c.minWriter, c.colMap, c.dv,
      c.partitionSpec, c.txns,
      if (c.statsCols.isEmpty) Map.empty
      else state.fileNulls.view.filterKeys(keptSet).toMap ++ addNulls)
  }

  /** Load a checkpoint's file enumeration (columnar — never one JSON
    * tree) and marry it to the commit file's resolved metadata. */
  private def fromCheckpoint(spark: SparkSession, path: String, v: Long): Manifest = {
    val c = nodeMeta(readCommitNode(spark, path, v))
    val rows = spark.read.schema(ckptSchema).parquet(ckptDir(path, v).toString).collect()
    val files = rows.map(_.getString(0)).toSeq.sorted
    val fileRows = rows.flatMap(r =>
      if (r.isNullAt(1)) None else Some(r.getString(0) -> r.getLong(1))).toMap
    val fileStats = rows.flatMap { r =>
      if (r.isNullAt(2)) None
      else Some(r.getString(0) ->
        r.getAs[scala.collection.Map[String, scala.collection.Seq[String]]](2)
          .map { case (c, a) => c -> ((a(0), a(1))) }.toMap)
    }.toMap
    val fileNulls = rows.flatMap { r =>
      if (r.isNullAt(3)) None // pre-nulls checkpoint row: fail open
      else Some(r.getString(0) ->
        r.getAs[scala.collection.Map[String, Long]](3).toMap)
    }.toMap
    Manifest(c.version, c.partitionCols, c.schemaDdl, files, c.sourceBatchId,
      c.statsCols, fileStats, fileRows, c.constraints, c.uniques, c.ts,
      c.minWriter, c.colMap, c.dv, c.partitionSpec, c.txns, fileNulls)
  }

  /** Resolve the snapshot at `version`: walk back to the nearest
    * resolved base (cached snapshot, checkpoint, full commit, or a
    * ref's target), then apply the collected delta chain forward. The
    * walk is bounded by the checkpoint interval once the table has
    * one; with a warm cache (every commit caches the head it just
    * produced) the common case is zero filesystem reads. */
  private def resolveSnapshot(spark: SparkSession, path: String,
                              version: Long): Manifest = {
    val fs = fsFor(spark, path)
    var chain = List.empty[com.fasterxml.jackson.databind.JsonNode]
    var t = version
    var base: Option[Manifest] = None
    while (base.isEmpty) {
      base = cacheGet(spark, path, t)
      if (base.isEmpty) {
        if (fs.exists(ckptDir(path, t))) base = Some(fromCheckpoint(spark, path, t))
        else {
          val node = readCommitNode(spark, path, t)
          if (node.has("files")) base = Some(parseFull(node))
          else if (node.has("baseRef")) {
            val c = nodeMeta(node)
            // files/stats/rows from the target; METADATA from the ref
            // commit itself (it stores the resolved values it committed)
            base = Some(manifest(spark, path, node.get("baseRef").asLong())
              .copy(version = c.version, sourceBatchId = c.sourceBatchId,
                partitionCols = c.partitionCols, schemaDdl = c.schemaDdl,
                statsCols = c.statsCols, constraints = c.constraints,
                uniques = c.uniques, ts = c.ts, minWriter = c.minWriter,
                colMap = c.colMap, dv = c.dv, partitionSpec = c.partitionSpec,
                txns = c.txns))
          } else {
            chain ::= node
            t -= 1
            require(t >= 1,
              s"TxLog: delta chain for v$version at $path has no base commit")
          }
        }
      }
    }
    chain.foldLeft(base.get)(applyDelta)
  }

  /** Load one version's RESOLVED manifest (cached). */
  def manifest(spark: SparkSession, path: String, version: Long): Manifest =
    cacheGet(spark, path, version).getOrElse {
      val m = resolveSnapshot(spark, path, version)
      cachePut(spark, path, m)
      m
    }

  // ------------------------------------------------------------------
  // Checkpoints
  // ------------------------------------------------------------------

  /** Checkpoint row shape. `len`/`mtime` (nullable, added r12) are the
    * file's size and modification time statted DISTRIBUTED at
    * checkpoint-write time, so a large-manifest planner never pays one
    * driver RPC per file; pre-r12 checkpoints read back with nulls
    * (explicit-schema read) and the consumer falls back to a stat. */
  private val ckptSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("f",
      org.apache.spark.sql.types.StringType, nullable = false),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("stats",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.StringType, containsNull = false),
        valueContainsNull = false), nullable = true),
    org.apache.spark.sql.types.StructField("nulls",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.LongType,
        valueContainsNull = false), nullable = true),
    org.apache.spark.sql.types.StructField("len",
      org.apache.spark.sql.types.LongType, nullable = true),
    org.apache.spark.sql.types.StructField("mtime",
      org.apache.spark.sql.types.LongType, nullable = true)))

  private[graft] def checkpointSchema: org.apache.spark.sql.types.StructType =
    ckptSchema
  private[graft] def checkpointDir(path: String, v: Long): Path = ckptDir(path, v)

  /** Make sure a checkpoint exists at `m.version`, writing one on
    * demand (a distributed job, idempotent — losing a concurrent race
    * drops the duplicate). Returns whether one is readable; `false`
    * sends the caller down the checkpoint-free path. Used by the
    * batch planner's distributed-prune mode: a 10^6-file manifest
    * wants the columnar enumeration even between interval
    * checkpoints. */
  private[graft] def ensureCheckpoint(spark: SparkSession, path: String,
                                      m: Manifest): Boolean =
    try {
      val fs = fsFor(spark, path)
      if (!fs.exists(ckptDir(path, m.version))) writeCheckpoint(spark, path, m)
      fs.exists(ckptDir(path, m.version))
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"TxLog: on-demand checkpoint at $path v${m.version} failed " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}) — planning " +
            "falls back to the driver-side file walk")
        false
    }

  /** Commits between checkpoints (`graft.txlog.checkpointInterval`,
    * default 10; ≤0 disables). Bounds delta-replay length for cold
    * readers; each checkpoint is one distributed parquet write of the
    * resolved file enumeration, amortized over the interval. */
  private def checkpointInterval(spark: SparkSession): Int =
    spark.conf.getOption("graft.txlog.checkpointInterval").map(_.toInt).getOrElse(10)

  private def maybeCheckpoint(spark: SparkSession, path: String, m: Manifest): Unit =
    // runs AFTER the commit JSON has renamed into place — the commit is
    // already durable, so a checkpoint failure (disk full, executor
    // loss, a concurrent vacuum sweeping the temp dir) must NOT surface
    // as a commit failure: the caller would retry a commit that landed,
    // and append-shaped commits have no idempotency watermark to absorb
    // the double-apply. Checkpoints are an optimization only (a missing
    // one lengthens delta replay, never changes results), so swallow
    // and warn.
    try {
      val k = checkpointInterval(spark)
      if (k > 0 && m.version % k == 0 &&
          !fsFor(spark, path).exists(ckptDir(path, m.version)))
        writeCheckpoint(spark, path, m)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"TxLog: checkpoint at $path v${m.version} failed after the " +
            s"commit landed (${e.getClass.getSimpleName}: ${e.getMessage}) " +
            "— continuing; the next interval commit will retry")
    }

  /** Guard against the auto-compact follow-on firing from inside its
    * own OPTIMIZE commit (same-thread re-entrancy belt; the operation
    * check is the primary gate). */
  private val inAutoCompact = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** Run `f` with the auto-compact follow-on suppressed on this
    * thread. [[Txn]] wraps its op loop in this: a heal commit landing
    * BETWEEN a transaction's ops would move the table head past the
    * journal's recorded commit, so a later compensation — which only
    * restores a table whose head IS the transaction's own commit —
    * would refuse as CONFLICTED. The declared table still heals on its
    * next ordinary commit; correctness of compensation outranks
    * immediate layout hygiene. */
  private[storage] def suppressFollowOnCompact[T](f: => T): T = {
    val prev = inAutoCompact.get()
    inAutoCompact.set(true)
    try f finally inAutoCompact.set(prev)
  }

  /** Follow-on maintenance for DECLARED table properties — runs AFTER
    * the commit JSON is durable, so a failure here warns and never
    * surfaces as a commit failure (both heals are idempotent; the next
    * commit, or an explicit buildBloomIndex/OPTIMIZE, retries):
    *
    *  - `graft.bloomCols`: extend the per-file Bloom sidecar index for
    *    exactly the files this commit added — [[buildBloomIndex]]
    *    skips files whose sidecar already exists, so the incremental
    *    cost is O(new files), and vacuum keeps GC'ing sidecars of
    *    files no retained manifest references.
    *  - `graft.autoCompact` (Delta's autoOptimize.autoCompact shape):
    *    if a partition this commit touched now holds
    *    `graft.txlog.autoCompactMinFiles` (default 8) or more files,
    *    compact exactly THOSE partitions as a SEPARATE follow-on
    *    commit — never inside the caller's commit, so a failed heal
    *    cannot fail the write that triggered it. OPTIMIZE commits are
    *    excluded (no recursion), and losing an OCC race to a
    *    concurrent writer just abandons the heal until the next
    *    trigger. */
  private def postCommitMaintain(spark: SparkSession, path: String,
                                 m: Manifest, newFiles: Seq[String],
                                 operation: String): Unit = {
    val props = propsOf(m)
    if (newFiles.nonEmpty) props.get(BloomColsProp).foreach { csv =>
      try csv.split(",").map(_.trim).filter(_.nonEmpty)
        .foreach(c => buildBloomIndex(spark, path, c))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"TxLog: declared Bloom maintenance at $path v${m.version} " +
              s"failed after the commit landed (${e.getMessage}) — " +
              "continuing; the build is idempotent and a missing " +
              "sidecar only costs extra file scans")
      }
    }
    if (newFiles.nonEmpty && !operation.startsWith("OPTIMIZE") &&
        !inAutoCompact.get() &&
        props.get(AutoCompactProp).exists(_.equalsIgnoreCase("true"))) {
      try {
        val minFiles = spark.conf
          .getOption("graft.txlog.autoCompactMinFiles")
          .map(_.toInt).getOrElse(8)
        val byDir = m.files.groupBy(dirOf)
        val heal = newFiles.map(dirOf).distinct
          .filter(d => byDir.getOrElse(d, Nil).size >= minFiles)
        if (heal.nonEmpty) {
          inAutoCompact.set(true)
          try compact(spark, path, minFilesToCompact = minFiles,
            dirScope = Some(heal.toSet))
          finally inAutoCompact.set(false)
        }
      } catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"TxLog: auto-compact at $path after v${m.version} failed " +
              s"(${e.getMessage}) — continuing; the write itself is " +
              "durable and the next trigger retries")
      }
    }
    // declared NDV staleness automation: a data commit that added files
    // refreshes the persisted sketches — incremental (O(new files))
    // while the history since the last ANALYZE is append-only with
    // unchanged DVs, full recompute otherwise. OPTIMIZE moves rows
    // between files without changing them: NDV is invariant, skip.
    if (newFiles.nonEmpty && !operation.startsWith("OPTIMIZE") &&
        props.get(AutoAnalyzeProp).exists(_.equalsIgnoreCase("true"))) {
      try Analyze.analyze(spark, path)
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"TxLog: auto-ANALYZE at $path after v${m.version} failed " +
              s"(${e.getMessage}) — continuing; stats are advisory and " +
              "the next data commit retries")
      }
    }
  }

  /** Write the resolved state at `m.version` as a parquet directory —
    * a DISTRIBUTED write (partitioned at ~100k entries/task), renamed
    * into place; losing a concurrent-checkpoint race just drops the
    * duplicate (content is identical by construction). Crash-safe: an
    * un-renamed temp dir is invisible to resolution. Checkpoints are
    * an optimization only — deleting one lengthens replay, never
    * changes results. */
  private[storage] def writeCheckpoint(spark: SparkSession, path: String,
                                       m: Manifest): Unit = {
    val fs = fsFor(spark, path)
    val rows: Seq[org.apache.spark.sql.Row] = m.files.map { f =>
      org.apache.spark.sql.Row(f,
        m.fileRows.get(f).map(java.lang.Long.valueOf).orNull,
        m.fileStats.get(f)
          .map(_.map { case (c, (mn, mx)) => c -> Seq(mn, mx) }).orNull,
        m.fileNulls.get(f).orNull)
    }
    val parts = math.max(1, math.min(64, rows.size / 100000))
    // len/mtime stat IN THE TASKS (one RPC per file, parallelized) —
    // the whole point of carrying them is that no later planner pays
    // this walk driver-side; a file that disappears mid-stat (a racing
    // vacuum) records nulls and the consumer re-stats or drops it
    val dataRoot = dataDir(path).toString
    val hconf = new org.apache.spark.SerializableWritable(
      spark.sparkContext.hadoopConfiguration)
    val statted = spark.sparkContext.parallelize(rows, parts).mapPartitions { it =>
      val conf = hconf.value
      it.map { r =>
        val f = r.getString(0)
        val p = if (f.startsWith("/") || f.contains("://")) new Path(f)
                else new Path(new Path(dataRoot), f)
        val st = scala.util.Try(p.getFileSystem(conf).getFileStatus(p)).toOption
        org.apache.spark.sql.Row(r.get(0), r.get(1), r.get(2), r.get(3),
          st.map(s => java.lang.Long.valueOf(s.getLen)).orNull,
          st.map(s => java.lang.Long.valueOf(s.getModificationTime)).orNull)
      }
    }
    val df = spark.createDataFrame(statted, ckptSchema)
    val tmp = new Path(manifestDir(path),
      s".ckpt_v${m.version}_${java.util.UUID.randomUUID().toString.take(8)}")
    df.write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(tmp, ckptDir(path, m.version))) fs.delete(tmp, true)
  }

  /** Per-table locks serializing the publish step for writers in THIS
    * JVM (the Delta LogStore contract's local half: dev filesystems
    * get a JVM lock; the store's own primitive arbitrates across
    * processes). Keyed by canonical path; entries are tiny and tables
    * few — no eviction. */
  private val commitLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Atomically land one commit JSON as `v<version>.json`, losing any
    * race loudly — never overwriting a committed version. Shared by
    * all three commit shapes. The cross-process decision is the
    * session's [[CommitArbiter]] (`graft.txlog.commitArbiter`):
    * `rename` (default) = temp write + exists + rename, exact where
    * rename refuses an existing destination (HDFS, ABFS);
    * `conditional` = one create-exclusive write of the final object,
    * exact on HDFS, kernel-mediated local mounts, and S3-class stores
    * in conditional-write mode (the close() PUT carries
    * If-None-Match) — the deployment class the rename contract
    * documented out. */
  private def commitAtomic(spark: SparkSession, path: String, version: Long,
                           node: com.fasterxml.jackson.databind.node.ObjectNode): Unit = {
    val fs = fsFor(spark, path)
    fs.mkdirs(manifestDir(path))
    val dst = new Path(manifestDir(path), s"v$version.json")
    val bytes = mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node)
    // optimistic concurrency: lose the race loudly, never overwrite a
    // committed version
    val lock = commitLocks.computeIfAbsent(cacheKey(spark, path), _ => new Object)
    val won = lock.synchronized {
      CommitArbiter.resolve(spark).putIfAbsent(fs, dst, bytes)
    }
    if (!won)
      throw new VersionRaceException(
        s"TxLog: concurrent commit detected for v$version at $path")
    writeHeadHint(fs, path, version)
  }

  /** Shared metadata header for every commit shape (resolved values —
    * any single commit file fully describes its version's schema,
    * layout and watermark). */
  /** Commit timestamp with the monotonicity CLAMP (Delta's adjusted
    * timestamps): never behind the predecessor's ts + 1, so version
    * order and timestamp order always agree and AS OF TIMESTAMP can
    * never resolve a snapshot that includes commits stamped after the
    * requested instant — even across writers with skewed clocks. */
  private def clampedTs(prev: Manifest): Long =
    math.max(System.currentTimeMillis(),
      prev.ts.map(_ + 1L).getOrElse(Long.MinValue))

  private def metaNode(version: Long, partitionCols: Seq[String],
                       schemaDdl: String, sourceBatchId: Option[Long],
                       statsCols: Seq[String],
                       constraints: Seq[(String, String)],
                       uniques: Seq[(String, Seq[String])],
                       operation: String, ts: Long, minWriter: Int,
                       protocol: Int = 1,
                       colMap: Seq[(String, String)] = Nil,
                       dv: Seq[(String, Map[String, Long])] = Nil,
                       partitionSpec: Seq[String] = Nil,
                       txns: Map[String, Long] = Map.empty)
      : com.fasterxml.jackson.databind.node.ObjectNode = {
    val node = mapper.createObjectNode()
    // a column mapping gates READERS too (protocol 2): a pre-mapping
    // build would resolve fine but surface PHYSICAL column names —
    // silently wrong results for any query naming the renamed column.
    // Deletion vectors gate readers for the same reason: a pre-DV
    // build would RESURRECT the deleted rows. Hidden partition specs
    // gate readers too: a pre-spec build would look the derived dir
    // columns up in the schema and fail confusingly — or worse.
    node.put("protocol",
      if (colMap.nonEmpty || dv.nonEmpty || partitionSpec.nonEmpty)
        math.max(protocol, 2)
      else protocol)
    if (partitionSpec.nonEmpty) {
      val arr = node.putArray("partitionSpec")
      partitionSpec.foreach(arr.add)
    }
    if (colMap.nonEmpty) {
      val arr = node.putArray("colMap")
      colMap.foreach { case (l, p) =>
        val e = arr.addObject(); e.put("l", l); e.put("p", p)
      }
    }
    if (dv.nonEmpty) {
      val arr = node.putArray("dv")
      dv.foreach { case (f, entries) =>
        val e = arr.addObject(); e.put("file", f)
        val ent = e.putObject("entries")
        entries.toSeq.sortBy(_._1).foreach { case (k, n) => ent.put(k, n) }
      }
    }
    if (txns.nonEmpty) {
      val t = node.putObject("txn")
      txns.toSeq.sortBy(_._1).foreach { case (a, tv) => t.put(a, tv) }
    }
    node.put("version", version)
    // provenance, not state: resolution never reads it, DESCRIBE
    // HISTORY surfaces it (Delta's commitInfo.operation shape)
    node.put("operation", operation)
    // wall-clock commit time (millis), clamped monotonic by the
    // caller via [[clampedTs]] — drives AS OF TIMESTAMP resolution
    // and the history column; never read by snapshot resolution
    node.put("ts", ts)
    if (minWriter > 1) node.put("minWriter", minWriter)
    partitionCols match {
      case Seq(c) => node.put("partitionCol", c) // legacy-compatible scalar
      case Seq() => node.putNull("partitionCol")
      case cs => // multi-column: array form; old readers see no layout
        node.putNull("partitionCol")
        val arr = node.putArray("partitionCols")
        cs.foreach(arr.add)
    }
    node.put("schemaDdl", schemaDdl)
    sourceBatchId.foreach(b => node.put("sourceBatchId", b))
    if (statsCols.nonEmpty) {
      val sc = node.putArray("statsCols")
      statsCols.foreach(sc.add)
    }
    if (constraints.nonEmpty) {
      val ca = node.putArray("constraints")
      constraints.foreach { case (n, c) =>
        val e = ca.addObject(); e.put("name", n); e.put("check", c)
      }
    }
    if (uniques.nonEmpty) {
      val ua = node.putArray("uniqueConstraints")
      uniques.foreach { case (n, cols) =>
        val e = ua.addObject(); e.put("name", n)
        val arr = e.putArray("cols"); cols.foreach(arr.add)
      }
    }
    node
  }

  /** Write a FULL commit — the explicit file enumeration. Used where
    * every file is new anyway ([[create]], [[clone]]); data commits
    * write O(changed)-sized deltas via [[writeDelta]]. */
  private def writeManifest(spark: SparkSession, path: String, m: Manifest,
                            operation: String,
                            cdc: Option[Seq[String]] = None): Unit = {
    val node = metaNode(m.version, m.partitionCols, m.schemaDdl,
      m.sourceBatchId, m.statsCols, m.constraints, m.uniques, operation,
      m.ts.getOrElse(System.currentTimeMillis()), m.minWriter,
      colMap = m.colMap, dv = m.dv, partitionSpec = m.partitionSpec,
      txns = m.txns)
    cdc.foreach { files =>
      val cArr = node.putArray("cdc")
      files.sorted.foreach(cArr.add)
    }
    val arr = node.putArray("files")
    m.files.sorted.foreach(arr.add)
    if (m.statsCols.nonEmpty) {
      val fsNode = node.putObject("fileStats")
      m.fileStats.toSeq.sortBy(_._1).foreach { case (f, cols) =>
        val cNode = fsNode.putObject(f)
        cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val a = cNode.putArray(c); a.add(mn); a.add(mx)
        }
      }
    }
    if (m.fileRows.nonEmpty) {
      val rNode = node.putObject("fileRows")
      m.fileRows.toSeq.sortBy(_._1).foreach { case (f, n) => rNode.put(f, n) }
    }
    if (m.fileNulls.nonEmpty) {
      val nNode = node.putObject("fileNulls")
      m.fileNulls.toSeq.sortBy(_._1).foreach { case (f, cols) =>
        val cNode = nNode.putObject(f)
        cols.toSeq.sortBy(_._1).foreach { case (c, n) => cNode.put(c, n) }
      }
    }
    commitAtomic(spark, path, m.version, node)
  }

  /** Write a DELTA commit: `removeDirs` + `add` entries with their
    * stats/rows. O(files changed) bytes — the shape every data commit
    * takes, so committing to a 10^6-file table serializes kilobytes. */
  private def writeDelta(spark: SparkSession, path: String, version: Long,
                         partitionCols: Seq[String], schemaDdl: String,
                         sourceBatchId: Option[Long], statsCols: Seq[String],
                         constraints: Seq[(String, String)],
                         uniques: Seq[(String, Seq[String])],
                         operation: String,
                         removeDirs: Set[String], addFiles: Seq[String],
                         addStats: Map[String, Map[String, (String, String)]],
                         addRows: Map[String, Long],
                         addNulls: Map[String, Map[String, Long]],
                         ts: Long, minWriter: Int,
                         txns: Map[String, Long],
                         removeFiles: Set[String] = Set.empty,
                         colMap: Seq[(String, String)] = Nil,
                         dv: Seq[(String, Map[String, Long])] = Nil,
                         partitionSpec: Seq[String] = Nil,
                         cdc: Option[Seq[String]] = None): Unit = {
    // a protocol-1 reader replaying a removeFiles delta would KEEP the
    // removed files (resurrected rows) — exactly those commits are
    // stamped protocol 2 and refuse old readers
    val node = metaNode(version, partitionCols, schemaDdl, sourceBatchId,
      statsCols, constraints, uniques, operation, ts, minWriter,
      protocol = if (removeFiles.isEmpty) 1 else 2, colMap = colMap, dv = dv,
      partitionSpec = partitionSpec, txns = txns)
    // write-time CDC record (Delta's AddCDCFile in spirit): the staged
    // row-level change files, referenced FROM the commit so they exist
    // iff the commit does. Old readers ignore the field — snapshot
    // resolution never depends on it.
    cdc.foreach { files =>
      val arr = node.putArray("cdc")
      files.sorted.foreach(arr.add)
    }
    val rmArr = node.putArray("removeDirs")
    removeDirs.toSeq.sorted.foreach(rmArr.add)
    if (removeFiles.nonEmpty) {
      val rfArr = node.putArray("removeFiles")
      removeFiles.toSeq.sorted.foreach(rfArr.add)
    }
    val addArr = node.putArray("add")
    addFiles.sorted.foreach { f =>
      val e = addArr.addObject()
      e.put("f", f)
      addRows.get(f).foreach(n => e.put("rows", n))
      addStats.get(f).filter(_.nonEmpty).foreach { cols =>
        val s = e.putObject("stats")
        cols.toSeq.sortBy(_._1).foreach { case (c, (mn, mx)) =>
          val a = s.putArray(c); a.add(mn); a.add(mx)
        }
      }
      addNulls.get(f).filter(_.nonEmpty).foreach { cols =>
        val nn = e.putObject("nulls")
        cols.toSeq.sortBy(_._1).foreach { case (c, n) => nn.put(c, n) }
      }
    }
    commitAtomic(spark, path, version, node)
  }

  /** Write a REF commit: this version's files are exactly
    * `baseRef`'s — [[restore]]'s zero-data rollback stays
    * zero-metadata too (O(1) bytes at any table size). */
  private def writeRef(spark: SparkSession, path: String, version: Long,
                       partitionCols: Seq[String], schemaDdl: String,
                       sourceBatchId: Option[Long], statsCols: Seq[String],
                       constraints: Seq[(String, String)],
                       uniques: Seq[(String, Seq[String])],
                       operation: String,
                       baseRef: Long, ts: Long, minWriter: Int,
                       txns: Map[String, Long],
                       colMap: Seq[(String, String)] = Nil,
                       dv: Seq[(String, Map[String, Long])] = Nil,
                       partitionSpec: Seq[String] = Nil): Unit = {
    val node = metaNode(version, partitionCols, schemaDdl, sourceBatchId,
      statsCols, constraints, uniques, operation, ts, minWriter,
      colMap = colMap, dv = dv, partitionSpec = partitionSpec, txns = txns)
    node.put("baseRef", baseRef)
    commitAtomic(spark, path, version, node)
  }

  /** Internal: a writer lost the rename race for its target version.
    * Recoverable — [[commitRebase]] retries against the new head when
    * the conflict rules allow. */
  private final class VersionRaceException(msg: String)
    extends IllegalStateException(msg)

  /** A concurrent commit invalidated this writer's read set — the
    * write must be RECOMPUTED against the new snapshot, not merely
    * re-pointed at it. Thrown by every data-changing commit that loses
    * its race to an overlapping writer. */
  final class CommitConflictException(msg: String)
    extends IllegalStateException(msg)

  /** Is this manifest entry a BY-REFERENCE absolute path (a shallow
    * [[clone]]'s pointer into another table's data dir) rather than a
    * path relative to this table's own `data/`? */
  private def isAbsEntry(f: String): Boolean =
    f.startsWith("/") || f.contains("://")

  /** The entry's path relative to its owning data root — identity for
    * relative entries; for absolute by-reference entries, the part
    * after the LAST `/data/` (so a clone's carried file still reports
    * its `part=v` partition directory). */
  private def relEntry(f: String): String =
    if (!isAbsEntry(f)) f
    else {
      val i = f.lastIndexOf("/data/")
      if (i >= 0) f.substring(i + "/data/".length)
      else f.split('/').last
    }

  /** The entry's PARTITION directory ("part=v", "" for root files) —
    * the unit every rewrite set is expressed in. Computed from the
    * data-root-relative form, so a shallow clone's absolute reference
    * into partition `part=v` matches a rewrite of that partition
    * exactly like a local file would. */
  private def dirOf(f: String): String =
    relEntry(f).split('/').dropRight(1).mkString("/")

  /** Map scan URIs (`input_file_name`) back to manifest entries by
    * their data-root-relative suffix — raw form first,
    * URL-decoded fallback (input_file_name returns the ENCODED URI
    * while entries are raw filesystem names), loud failure on a
    * suffix no entry owns. The one resolution every scan key goes
    * through: hit-file discovery ([[discoverHitFiles]]), the DV
    * sidecar writer ([[writeDv]]), stats collection and the Bloom
    * index builder. */
  private def entryResolver(entries: Seq[String]): String => String = {
    val bySuffix = entries.map(f => relEntry(f) -> f).toMap
    uri => {
      val i = uri.lastIndexOf("/data/")
      // no '/data/' ⇒ the input already IS the data-root-relative
      // suffix (the _dv_key column readFiles computes)
      val suffix = if (i >= 0) uri.substring(i + "/data/".length) else uri
      bySuffix.get(suffix)
        .orElse(bySuffix.get(java.net.URLDecoder.decode(suffix, "UTF-8")))
        .getOrElse(throw new IllegalStateException(
          s"TxLog: scan file '$uri' does not map back to any manifest " +
            "entry — partition value encoding mismatch"))
    }
  }

  /** Optimistic-concurrency commit with logical conflict detection —
    * the Delta-style rule set that makes concurrent writers safe over
    * the same rename-based log:
    *
    *  - the caller staged `newFiles` against the `base` manifest and
    *    wants them committed with every file under `rewriteDirs`
    *    dropped (its rewrite set) and the rest carried by reference;
    *  - `readSet` declares what the caller's computation DEPENDED on:
    *    `Some(dirs)` = only those partitions' files (∅ for a blind
    *    append), `None` = the whole table (merges and deletes discover
    *    key locations by reading everything, so any interleaved change
    *    could invalidate them);
    *  - losing the version race triggers a REBASE: reload the head,
    *    and if nothing in the read set changed since `base` (file sets
    *    compared dir-by-dir; schema and partition layout must be
    *    untouched), re-point the commit at the head and try again —
    *    so blind appends never conflict with each other, and a
    *    compaction never conflicts with appends to other partitions
    *    (the OPTIMIZE-vs-ingest guarantee);
    *  - a read-set overlap throws [[CommitConflictException]]: the
    *    caller must recompute from the new snapshot (correctness over
    *    convenience — re-pointing a merge whose inputs moved would
    *    silently drop the winner's rows).
    *
    * `batchId` threads [[appendBatch]]'s idempotency watermark through
    * the loop: a rebase re-checks it against the new head, so a
    * replayed micro-batch that loses a race to its own earlier replay
    * still commits exactly once. New files' skip-index stats are
    * measured ONCE; carried entries re-derive from whichever head the
    * commit finally lands on. */
  private[storage] def commitRebase(spark: SparkSession, path: String, base: Manifest,
                           rewriteDirs: Set[String], newFiles: Seq[String],
                           schemaDdl: String, batchId: Option[Long],
                           readSet: Option[Set[String]],
                           operation: String,
                           maxRetries: Int = 10,
                           removeFiles: Set[String] = Set.empty,
                           revalidate: Manifest => Unit = _ => (),
                           addDv: Seq[(String, Map[String, Long])] = Nil,
                           txn: Option[(String, Long)] = None,
                           rebaseCheck: Option[(Manifest, Manifest) => Option[String]] = None,
                           idClaims: Map[String, (Long, Long)] = Map.empty,
                           cdc: Option[Seq[String]] = None): Long = {
    requireWritable(base, path)
    val (newStats, newRows, newNulls) = collectStats(spark, path,
      physicalize(StructType.fromDDL(schemaDdl), base.colMap),
      base.statsCols, newFiles,
      recoverPartitions = base.partitionSpec.isEmpty)
    var attempt = base
    var retries = 0
    while (true) {
      if (batchId.exists(b => attempt.sourceBatchId.exists(_ >= b)))
        return attempt.version // replayed micro-batch: already committed
      // per-app watermark: a replayed idempotent commit that lost a
      // race to its own earlier replay re-checks against the NEW head
      if (txn.exists { case (app, tv) => attempt.txns.get(app).exists(_ >= tv) })
        return attempt.version
      try {
        val resolvedBatch = batchId.orElse(attempt.sourceBatchId)
        val resolvedTxns = attempt.txns ++ txn
        // the first watermark makes carrying them load-bearing: gate
        // out writer generations that would silently drop the map
        val txnMinWriter =
          if (resolvedTxns.isEmpty) attempt.minWriter
          else math.max(attempt.minWriter, 3)
        // identity claims advance the high-water mark in the SAME
        // commit as the data — the staged files' ids and the mark can
        // never diverge (a crash between two commits cannot leak a
        // range, because there is only one commit)
        val resolvedConstraints =
          if (idClaims.isEmpty) attempt.constraints
          else attempt.constraints.map {
            case (nm, e) if nm.startsWith(IdentityPrefix) &&
                idClaims.contains(nm.stripPrefix(IdentityPrefix)) =>
              val sep = e.indexOf(':')
              nm -> s"${e.take(sep)}:${idClaims(nm.stripPrefix(IdentityPrefix))._2}"
            case other => other
          }
        // the commit file is a DELTA — O(files changed) bytes; the
        // race is still one atomic v<N+1>.json rename
        val ts = clampedTs(attempt)
        val kept = attempt.files.filterNot(f =>
          rewriteDirs.contains(dirOf(f)) || removeFiles.contains(f))
        val keptSet = kept.toSet
        // DV entries whose target file leaves the manifest prune out —
        // a rewrite materialized those deletes (it read through the
        // filtered view), so the carried DV state stays bounded by
        // un-materialized deletes
        val dvKept = dvLiveFor(attempt.dv ++ addDv, keptSet)
        writeDelta(spark, path, attempt.version + 1, attempt.partitionCols,
          schemaDdl, resolvedBatch, attempt.statsCols, resolvedConstraints,
          attempt.uniques, operation, rewriteDirs, newFiles, newStats, newRows,
          newNulls, ts, txnMinWriter, resolvedTxns, removeFiles,
          attempt.colMap, dvKept, attempt.partitionSpec, cdc)
        // resolve the state this delta produced (same transition
        // applyDelta replays) — warms the cache for the next
        // commit/read and feeds the periodic checkpoint
        // newFiles sorted: byte-identical to what applyDelta replays
        // from the JSON (writeDelta emits adds sorted)
        val resolved = Manifest(attempt.version + 1, attempt.partitionCols,
          schemaDdl, kept ++ newFiles.sorted, resolvedBatch, attempt.statsCols,
          if (attempt.statsCols.isEmpty) Map.empty
          else attempt.fileStats.view.filterKeys(keptSet).toMap ++ newStats,
          attempt.fileRows.view.filterKeys(keptSet).toMap ++ newRows,
          resolvedConstraints, attempt.uniques, Some(ts), txnMinWriter,
          attempt.colMap, dvKept, attempt.partitionSpec, resolvedTxns,
          if (attempt.statsCols.isEmpty) Map.empty
          else attempt.fileNulls.view.filterKeys(keptSet).toMap ++ newNulls)
        cachePut(spark, path, resolved)
        maybeCheckpoint(spark, path, resolved)
        postCommitMaintain(spark, path, resolved, newFiles, operation)
        return attempt.version + 1
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
          val latest = manifest(spark, path, currentVersion(spark, path).get)
          if (latest.schemaDdl != base.schemaDdl ||
              latest.partitionCols != base.partitionCols)
            throw new CommitConflictException(
              s"TxLog: concurrent schema/layout change at $path " +
                s"(v${base.version} -> v${latest.version}) — recompute " +
                "against the new snapshot")
          // rows were validated under base's constraint set — an
          // interleaved ADD/DROP CONSTRAINT means they must re-validate.
          // Identity entries are excluded from the equality: their
          // VALUE advances with every allocating commit (that is not a
          // semantic change), but a definition change (added/dropped
          // identity column) still conflicts like any other constraint
          def nonIdentity(cs: Seq[(String, String)]) =
            cs.filterNot(_._1.startsWith(IdentityPrefix))
          if (nonIdentity(latest.constraints) != nonIdentity(base.constraints) ||
              latest.uniques != base.uniques)
            throw new CommitConflictException(
              s"TxLog: concurrent constraint change at $path " +
                s"(v${base.version} -> v${latest.version}) — re-validate " +
                "and recompute against the new snapshot")
          if (identityColumns(latest).keySet != identityColumns(base).keySet)
            throw new CommitConflictException(
              s"TxLog: concurrent IDENTITY definition change at $path " +
                s"(v${base.version} -> v${latest.version}) — recompute " +
                "against the new snapshot")
          // a concurrent commit ALLOCATED from the mark this commit's
          // fill read: the staged ids may collide — re-fill from the
          // new head (the append family catches this and retries)
          idClaims.foreach { case (c, (expected, _)) =>
            identityColumns(latest).get(c).foreach { case (_, cur) =>
              if (cur != expected) throw new IdentityRaceException(
                s"TxLog: identity mark for '$c' at $path moved " +
                  s"$expected -> $cur under this commit — re-fill from " +
                  s"v${latest.version}")
            }
          }
          rebaseCheck match {
            // FILE-granular read declaration (the MERGE family): the
            // checker knows exactly which files were read, which are
            // touched, and what key range the source spans — it
            // admits rebases the coarse checks below would refuse
            // (concurrent writes to DISJOINT key ranges) and subsumes
            // the blanket DV comparison with a per-read-file one
            case Some(chk) =>
              chk(base, latest).foreach(reason =>
                throw new CommitConflictException(
                  s"TxLog: concurrent commit v${latest.version} at $path " +
                    s"$reason — recompute against the new snapshot"))
            case None =>
              // a deletion-vector commit changes ROWS without changing
              // FILES — invisible to the file-set comparison below. A
              // rewrite staged from the pre-DV snapshot read rows the DV
              // has since deleted (and dvLiveFor would prune the DV
              // entries for the files it removes), so rebasing it would
              // RESURRECT the concurrently-deleted rows; racing DV adds
              // would double-carry delete counts. Any commit that
              // rewrites/removes files or adds DV state must recompute.
              if (latest.dv != base.dv &&
                  (rewriteDirs.nonEmpty || removeFiles.nonEmpty || addDv.nonEmpty))
                throw new CommitConflictException(
                  s"TxLog: concurrent deletion-vector change at $path " +
                    s"(v${base.version} -> v${latest.version}) — recompute " +
                    "against the new snapshot")
              def under(m: Manifest, dirs: Set[String]) =
                m.files.filter(f => dirs.contains(dirOf(f))).toSet
              val overlapped = readSet match {
                case Some(dirs) => under(latest, dirs) != under(base, dirs)
                case None => latest.files.toSet != base.files.toSet
              }
              if (overlapped)
                throw new CommitConflictException(
                  s"TxLog: concurrent commit v${latest.version} at $path " +
                    "changed files this write depends on — recompute against " +
                    "the new snapshot")
          }
          // caller-supplied semantic re-validation against the rebased
          // head (the UNIQUE gate probes keys that landed since `base`
          // here — without it two racing appends of the same key would
          // both pass their snapshot probes and both commit)
          revalidate(latest)
          attempt = latest
      }
    }
    -1L // unreachable
  }

  /** Seal a per-app txn watermark on a write verb's NO-OP path.
    * Returning without recording the watermark leaves the idempotency
    * lane open: the table can change between the original delivery and
    * a redelivery (another writer inserts matching keys), so the
    * replayed window could apply effects the original did not —
    * exactly-once would hold only until the next interleaved commit.
    * The seal is Delta's SetTransaction pattern: an empty metadata
    * delta carrying the resolved txn map. It writes no data, so it
    * serializes soundly at the original decision snapshot regardless
    * of interleaved commits — a blind (∅ read-set) commit that never
    * conflicts. */
  private def sealNoopTxn(spark: SparkSession, path: String, m: Manifest,
                          txn: Option[(String, Long)], op: String): Long =
    if (txn.isEmpty) m.version
    else commitRebase(spark, path, m, rewriteDirs = Set.empty,
      newFiles = Nil, schemaDdl = m.schemaDdl, batchId = None,
      readSet = Some(Set.empty), operation = s"$op NO-OP", txn = txn)

  /** File-granular OCC read declaration for the MERGE family — the
    * Delta conflict model, replacing "any interleaved commit conflicts
    * the merge" (readSet = None) with the merge's TRUE dependencies,
    * which its three-stage discovery already computed. A rebase onto
    * `latest` is admitted iff:
    *
    *  1. every file the merge TOUCHES (rewrites, or targets with a
    *     deletion vector) still exists at the head — a concurrent
    *     OPTIMIZE/DELETE of one would otherwise resurrect rows (the
    *     compacted copy survives the rewrite) or silently drop our DV
    *     (dvLiveFor prunes entries whose target left the manifest);
    *  2. no file the merge READ (the discovery candidates — exactly
    *     the files whose rows fed the match/insert decisions) changed
    *     deletion-vector state — rows we decided on may have been
    *     concurrently deleted;
    *  3. no file ADDED since the base snapshot might hold a source
    *     key — an interleaved append of a matched key means the merge
    *     should have updated it (lost update / duplicate key under
    *     upsert semantics). Provable only when the merge key is a
    *     single stats-tracked column: the added file's min/max votes
    *     against the source-key bounds. Multi-key or untracked merges
    *     conflict on ANY added file, and files without stats
    *     conservatively conflict.
    *
    * Everything unprovable conflicts — same correctness contract as
    * before, but concurrent merges into DISJOINT key ranges of one
    * table (the CDC fan-in shape) now commit without recompute-retry.
    * `keyBounds` = (column, loEnc, hiEnc) in the stats encoding;
    * `sourceEmpty` skips rule 3 (no keys to collide). */
  private[graft] def mergeRebaseCheck(declared: StructType,
      keyBounds: Option[(String, String, String)], sourceEmpty: Boolean,
      readCandidates: Set[String], touchedFiles: Set[String],
      tz: String): (Manifest, Manifest) => Option[String] =
    (base, latest) => {
      // ONE pass over the head's file list (plus one set build over the
      // base's): collect the ADDED files and the touched files' liveness
      // together — the decision is linear in table size with a small
      // constant (~0.2 s at 10^6 entries, measured by ScaleCheckOcc at
      // commit 2375eab), and it runs only on a LOST version race, where
      // the alternative it replaces is recomputing the whole merge
      // (discovery scan + rewrite)
      val baseSet = new java.util.HashSet[String](base.files.size * 2)
      base.files.foreach(baseSet.add)
      val missing = new java.util.HashSet[String](touchedFiles.size * 2)
      touchedFiles.foreach(missing.add)
      val added = Seq.newBuilder[String]
      latest.files.foreach { f =>
        missing.remove(f)
        if (!baseSet.contains(f)) added += f
      }
      def dvByFile(m: Manifest): Map[String, Seq[String]] =
        m.dv.flatMap { case (name, files) => files.keys.map(_ -> name) }
          .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
      if (!missing.isEmpty)
        Some("removed/rewrote a file this merge touches " +
          s"(${missing.iterator.next()})")
      else {
        val bdv = dvByFile(base); val ldv = dvByFile(latest)
        val dvChanged = readCandidates.find(f =>
          bdv.getOrElse(f, Nil) != ldv.getOrElse(f, Nil))
        if (dvChanged.isDefined)
          Some("changed deletion-vector state of a file this merge " +
            s"read (${dvChanged.get})")
        else {
          val addedFiles = added.result()
          if (addedFiles.isEmpty || sourceEmpty) None
          else keyBounds match {
            case None => Some("added files while the merge keys are not " +
              s"provably disjoint (${addedFiles.head})")
            case Some((k, lo, hi)) =>
              pruneByRange(latest, declared, addedFiles, k, lo, hi, tz)
                .headOption
                .map(f => s"added a file that may hold merged keys ($f)")
          }
        }
      }
    }

  /** OCC read declaration for the PREDICATE verbs (deleteWhere /
    * updateWhere) — [[mergeRebaseCheck]]'s rules 1+2 over the touched
    * files, plus the Delta WriteSerializable rule for ADDED files:
    * a BLIND append serializes after the predicate op (its rows were
    * never in the op's snapshot — the op's predicate simply does not
    * apply to them), but a file added by a NON-blind commit (a
    * concurrent MERGE/UPDATE rewrite) may hold REWRITTEN rows that now
    * match this predicate — admitting it would let matching rows
    * survive the DELETE's commit version (ADVICE r13, low). The verbs
    * have no key bounds to vote added files against (arbitrary
    * predicates), so provenance decides: one O(bytes-changed) commit-
    * node read per interleaved version classifies its adds as blind
    * (operation APPEND / STREAMING APPEND / APPEND TXN) or not;
    * anything unreadable or unrecognized conflicts conservatively. */
  private[graft] def predicateRebaseCheck(spark: SparkSession, path: String,
      schema: StructType, touchedFiles: Set[String], tz: String)
      : (Manifest, Manifest) => Option[String] =
    (base, latest) =>
      mergeRebaseCheck(schema, None, sourceEmpty = true, touchedFiles,
          touchedFiles, tz)(base, latest)
        .orElse {
          val baseSet = base.files.toSet
          if (!latest.files.exists(f => !baseSet.contains(f))) None
          else ((base.version + 1) to latest.version).iterator.flatMap { v =>
            scala.util.Try {
              val node = readCommitNode(spark, path, v)
              val op = Option(node.get("operation")).map(_.asText())
                .getOrElse("").toUpperCase
              val blind = op.startsWith("APPEND") ||
                op.startsWith("STREAMING APPEND")
              val adds = Option(node.get("add")).map(_.size()).getOrElse(
                // full/ref commits (CREATE OR REPLACE, RESTORE) redefine
                // the file set — never admissible under a predicate op
                if (node.has("files") || node.has("baseRef")) 1 else 0)
              if (adds > 0 && !blind) Some(s"v$v ($op)") else None
            }.getOrElse(Some(s"v$v (unreadable commit)"))
          }.take(1).toSeq.headOption.map(c =>
            s"added files via non-blind commit $c whose rewritten rows " +
              "may match this predicate")
        }

  /** Stage-write `df`, move its files into `data/` under a fresh commit
    * uuid, and return the new files' table-relative paths. Old files
    * are never touched.
    *
    * `transforms` (hidden partitioning): the derived dir columns are
    * added HERE, right before the partitioned write — they live only
    * in directory names (partitionBy strips them from the data files),
    * so the staged files carry the full RAW schema and reads never
    * need partition-value recovery. */
  private[storage] def stageIn(df: DataFrame, path: String,
                      partitionCols: Seq[String],
                      transforms: Seq[PartitionTransforms.Transform] = Nil)
      : Seq[String] = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val uuid = java.util.UUID.randomUUID().toString.take(12)
    val staging = new Path(path, s"_staging_$uuid")
    val staged = transforms.foldLeft(df)((d, t) =>
      d.withColumn(t.dirName,
        t.derive(org.apache.spark.sql.functions.col(
          "`" + t.src.replace("`", "``") + "`"))))
    // optimized write (`graft.txlog.optimizedWrite` — Delta's
    // optimizeWrite in spirit): shuffle rows to their partition dir
    // BEFORE writing, so a commit lands ~one file per dir instead of
    // (tasks × dirs) small files. Costs one hash shuffle and
    // serializes a hot dir into one task (salt or leave off for
    // skewed layouts), so the unset default is off for identity/time
    // layouts — but ON for BUCKET transforms (r19): a hash bucket is
    // uniform by construction (no hot dir), one file per bucket is
    // what lets the mount declare a real BucketSpec (shuffle-free
    // joins/aggs on the source key), and without the shuffle a
    // single-split upstream (one parquet file feeding the verb)
    // serializes the whole staged write into one task — the measured
    // cause of q_txlog_hidden's 8→32-core anti-scaling. Uniform holds
    // for bucket IDS, not rows: a skewed source key still piles its
    // rows into one bucket, and the shuffle sends that whole bucket to
    // one task. A skewed bucket table opts out by declaring the
    // `graft.optimizedWrite` table property ([[OptimizedWriteProp]])
    // false. The TABLE property (when declared) wins over the session
    // conf — resolved from the head manifest (cached); a create has no
    // head yet and falls through to the session knob, then the layout
    // default.
    val tablePref: Option[Boolean] = currentVersion(spark, path)
      .flatMap(v => propsOf(manifest(spark, path, v)).get(OptimizedWriteProp))
      .map(_.equalsIgnoreCase("true"))
    val bucketLayout =
      transforms.exists(_.isInstanceOf[PartitionTransforms.Bucket])
    val optimized = partitionCols.nonEmpty && tablePref.getOrElse(
      spark.conf.getOption("graft.txlog.optimizedWrite").map(_.toBoolean)
        .getOrElse(bucketLayout))
    val toWrite0 =
      if (!optimized) staged
      else staged.repartition(partitionCols.map(c =>
        org.apache.spark.sql.functions.col(
          "`" + c.replace("`", "``") + "`")): _*)
    // bucket layouts write each file SORTED by the bucket source (an
    // in-task sort — the dynamic-partition writer already sorts by the
    // dir columns; the source key rides as a secondary). With one file
    // per bucket (optimizedWrite, or after OPTIMIZE) the mount then
    // declares the sort and a merge join elides BOTH the exchange and
    // the per-bucket sort.
    val sortCols = partitionCols ++
      transforms.collectFirst { case b: PartitionTransforms.Bucket => b.src }
    val toWrite =
      if (sortCols.size == partitionCols.size) toWrite0
      else toWrite0.sortWithinPartitions(sortCols.map(c =>
        org.apache.spark.sql.functions.col(
          "`" + c.replace("`", "``") + "`")): _*)
    val w = toWrite.write.mode("overwrite")
    (if (partitionCols.isEmpty) w else w.partitionBy(partitionCols: _*))
      .parquet(staging.toString)
    // a bucket transform's derivation IS Spark's own bucket id
    // (pmod(murmur3, n) — HashPartitioning.partitionIdExpression), so
    // staged names embed the id in Spark's `_%05d` bucket-file shape:
    // the batch mount can then declare a real BucketSpec and equi-joins
    // / aggregations on the source column plan WITHOUT a shuffle
    val bucketDirName: Option[String] = transforms.collectFirst {
      case b: PartitionTransforms.Bucket => b.dirName }
    def bucketSuffixed(base: String, rel: String): String =
      bucketDirName.flatMap { bd =>
        rel.split('/').collectFirst {
          case seg if seg.startsWith(bd + "=") =>
            scala.util.Try(seg.substring(bd.length + 1).toInt).toOption
        }.flatten
      } match {
        case None => base
        case Some(id) =>
          val dot = base.indexOf('.')
          if (dot < 0) f"${base}_$id%05d"
          else f"${base.substring(0, dot)}_$id%05d${base.substring(dot)}"
      }
    val moved = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(dir: Path, rel: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        else if (name.endsWith(".parquet")) {
          val relDst = (if (rel.isEmpty) "" else s"$rel/") +
            bucketSuffixed(s"$uuid-$name", rel)
          val dst = new Path(dataDir(path), relDst)
          fs.mkdirs(dst.getParent)
          require(fs.rename(st.getPath, dst), s"TxLog: move failed for $relDst")
          moved += relDst
        }
      }
    walk(staging, "")
    fs.delete(staging, true)
    moved.toSeq
  }

  /** Driver-side parquet-footer row counts for exactly the staged
    * files — the rows-only fast path of [[collectStats]]. Footers are
    * a few KB of metadata at the file tail; reads run on a small
    * bounded thread pool (the files were just written, so the local
    * page cache is warm). Any failure returns None and the caller
    * falls back to the distributed counting aggregate. */
  private def footerRowCounts(spark: SparkSession, path: String,
                              files: Seq[String]): Option[Map[String, Long]] =
    try {
      val conf = spark.sessionState.newHadoopConf()
      val base = dataDir(path)
      val out = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(16, math.max(1, files.size)))
      try {
        val tasks = files.map { f =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              val in = org.apache.parquet.hadoop.util.HadoopInputFile
                .fromPath(new Path(base, f), conf)
              val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
              try out.put(f, r.getRecordCount)
              finally r.close()
            }
          })
        }
        tasks.foreach(_.get())
      } finally pool.shutdown()
      import scala.jdk.CollectionConverters._
      Some(out.asScala.map { case (k, v) => k -> v.longValue }.toMap)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Largest staged-file count [[collectStats]] reads footers for on
    * the driver; above it the distributed counting aggregate runs. */
  private val FooterStatsMaxFiles = 65536

  /** Per-file min/max for the tracked columns PLUS per-file row
    * counts, computed by ONE bounded aggregate over exactly the newly
    * staged files (grouped by input_file_name — page-cache-warm, never
    * a table rescan). Min/max values serialize as strings and retype
    * via the declared schema at planning time; all-null files simply
    * have no entry for that column (conservatively unprunable). Row
    * counts are ALWAYS measured (Delta's numRecords in spirit) — they
    * power [[fastCount]]'s metadata-only COUNT(*) — and the counting
    * projection is empty, so a stats-less table pays a column-pruned
    * pass, not a data read. */
  private def collectStats(spark: SparkSession, path: String,
                           schema: StructType, statsCols: Seq[String],
                           files: Seq[String],
                           recoverPartitions: Boolean = true)
      : (Map[String, Map[String, (String, String)]], Map[String, Long],
         Map[String, Map[String, Long]]) = {
    if (files.isEmpty) return (Map.empty, Map.empty, Map.empty)
    // rows-only commits (no declared skip stats) read the counts
    // straight from the parquet FOOTERS on the driver: the footer row
    // count IS count(1) (exact, not a statistic), so this returns the
    // identical numbers the counting aggregate produces without paying
    // a Spark job per commit (~0.2 s of scheduling on an otherwise
    // sub-second commit). Bounded: above the threshold the distributed
    // aggregate runs as before — an O(files) driver loop must not meet
    // a 10^6-file commit (the same ceiling stageIn's rename loop
    // already accepts; footer reads are the cheaper metadata op).
    // Declared statsCols keep the aggregate: min/max must come from
    // the SAME expression semantics (statsEncode over column values) —
    // footer statistics truncate binary min/max and diverge on NaN
    // ordering, so they are not a safe substitute for the skip index.
    if (statsCols.isEmpty) {
      if (files.size <= FooterStatsMaxFiles)
        footerRowCounts(spark, path, files) match {
          case Some(rc) => return (Map.empty, rc, Map.empty)
          case None => () // unreadable footer: fall through to the job
        }
    }
    import org.apache.spark.sql.functions.{col, count, input_file_name, lit, max, min}
    val base = dataDir(path).toString
    val aggs = statsCols.flatMap(c => Seq(
      statsEncode(statsColType(schema, c), min(statsColExpr(c))).as(s"_min_$c"),
      statsEncode(statsColType(schema, c), max(statsColExpr(c))).as(s"_max_$c"),
      count(statsColExpr(c)).as(s"_nn_$c"))) :+
      count(lit(1)).as("_rows")
    // hidden-partitioned tables skip basePath: the dirs spell DERIVED
    // values that are not schema columns (the raw data is complete in
    // the files), and partition recovery would trip over them
    val reader0 = spark.read.schema(schema)
    val reader = if (recoverPartitions) reader0.option("basePath", base) else reader0
    val rows = reader
      .parquet(files.map(f => s"$base/$f"): _*)
      .groupBy(input_file_name().as("_f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    // input_file_name returns the URL-ENCODED URI while the staged
    // entries are raw filesystem names: a %-escaped partition value
    // would otherwise key stats/rows under a name no manifest entry
    // matches, silently disabling fastCount and skip pruning for the
    // file — entryResolver's decode fallback
    val resolve = entryResolver(files)
    val pairs = rows.map { r =>
      val rel = resolve(r.getString(0))
      val st = statsCols.flatMap { c =>
        val mn = r.getAs[String](s"_min_$c")
        val mx = r.getAs[String](s"_max_$c")
        if (mn == null || mx == null) None else Some(c -> ((mn, mx)))
      }.toMap
      // null counts per tracked column — 0 is the load-bearing value
      // (it's what lets IS NULL prune the file), so every tracked
      // column records, not just the ones with nulls
      val rows = r.getAs[Long]("_rows")
      val nulls = statsCols.map(c => c -> (rows - r.getAs[Long](s"_nn_$c"))).toMap
      (rel, st, rows, nulls)
    }
    (pairs.map(p => p._1 -> p._2).toMap, pairs.map(p => p._1 -> p._3).toMap,
      pairs.map(p => p._1 -> p._4).toMap)
  }

  /** Create a table at `path` as version 1. Fails if a table already
    * exists there. `statsCols` opts files into the per-file min/max
    * skip index consumed by [[readBetween]] (partition columns are
    * legal stat columns — each file's value is a constant).
    *
    * Layout: `partitionCol` keeps the one-column convenience shape;
    * `partitionCols` takes a MULTI-column layout — nested Hive dirs
    * `a=1/b=2/...` in the given order, the (date, hour) / (chr, study)
    * shape real lakes use. Multi-column tables demand writer
    * generation 2 ([[WriterVersion]]): a build that would stage rows
    * ignoring the nested layout must refuse instead. */
  def create(df: DataFrame, path: String,
             partitionCol: Option[String] = None,
             statsCols: Seq[String] = Nil,
             partitionCols: Seq[String] = Nil,
             hiddenPartitions: Seq[String] = Nil): Long = {
    require(partitionCol.isEmpty || partitionCols.isEmpty,
      "TxLog.create: pass partitionCol OR partitionCols, not both")
    require(hiddenPartitions.isEmpty ||
        (partitionCol.isEmpty && partitionCols.isEmpty),
      "TxLog.create: hiddenPartitions and explicit partition columns are " +
        "mutually exclusive — a hidden layout derives its directories")
    // hidden partitioning: the layout columns are DERIVED (days/hours/
    // bucket/truncate of a source column), live only in directory
    // names, and queries keep filtering the raw column — the planner
    // translates (Iceberg's transform semantics, timezone-free)
    val transforms =
      PartitionTransforms.parseAll(hiddenPartitions, df.schema)
    transforms.foreach(t => require(!df.schema.fieldNames.contains(t.dirName),
      s"TxLog.create: derived partition name '${t.dirName}' collides with " +
        "a schema column"))
    require(transforms.map(_.dirName).distinct.size == transforms.size,
      "TxLog.create: duplicate hidden partition transforms on one column")
    val layout =
      if (transforms.nonEmpty) transforms.map(_.dirName)
      else if (partitionCols.nonEmpty) partitionCols else partitionCol.toSeq
    if (transforms.isEmpty)
      layout.foreach(c => require(df.schema.fieldNames.contains(c),
        s"TxLog.create: partition column '$c' is not in the schema"))
    require(currentVersion(df.sparkSession, path).isEmpty,
      s"TxLog: table already exists at $path")
    validateStatsCols(df.schema, statsCols, "TxLog.create")
    val files = stageIn(df, path, layout, transforms)
    val (stats, rowCounts, nullCounts) =
      collectStats(df.sparkSession, path, df.schema, statsCols, files,
        recoverPartitions = transforms.isEmpty)
    // a dead table recreated at this path must not serve the old
    // incarnation's cached snapshots
    cacheInvalidate(df.sparkSession, path)
    val m = Manifest(1L, layout, df.schema.toDDL, files.sorted,
      statsCols = statsCols, fileStats = stats, fileRows = rowCounts,
      fileNulls = nullCounts,
      ts = Some(System.currentTimeMillis()),
      minWriter =
        if (layout.size >= 2 || transforms.nonEmpty) 2 else 1,
      partitionSpec = transforms.map(_.spec))
    writeManifest(df.sparkSession, path, m, operation = "CREATE")
    cachePut(df.sparkSession, path, m)
    1L
  }

  /** CONVERT — adopt an existing parquet directory as a TxLog table
    * IN PLACE (Delta's `CONVERT TO DELTA`): every data file RENAMES
    * under `<dir>/data/` keeping its partition subpath — O(files)
    * filesystem METADATA operations, zero bytes rewritten on
    * posix/HDFS (an object-store rename is a server-side copy; still
    * no download, no decode) — then version 1 commits with the
    * inventory, per-file row counts, and optional skip stats (the
    * same single aggregate pass CREATE pays). The result is a
    * FIRST-CLASS table: every verb (append/merge/DV delete/compact/
    * clone/constraints/evolution) works exactly as on a created
    * table, because the adopted layout IS the created layout — no
    * by-reference special case haunting a dozen code paths.
    *
    * Hive-partitioned sources pass `partitionCols` in directory
    * order; every file's subpath must spell exactly those
    * `name=value` dirs (validated, loud). Partition column TYPES
    * come from Spark's partition inference over the directory names.
    *
    * Restartable: a crash mid-move leaves no manifest (the dir is
    * not yet a table); re-running adopts files already under `data/`
    * plus the remainder. */
  def convert(spark: SparkSession, dir: String,
              partitionCols: Seq[String] = Nil,
              statsCols: Seq[String] = Nil): Long = {
    require(currentVersion(spark, dir).isEmpty,
      s"TxLog.convert: a table already exists at $dir")
    val fs = fsFor(spark, dir)
    val root = new Path(dir)
    require(fs.exists(root) && fs.getFileStatus(root).isDirectory,
      s"TxLog.convert: $dir is not a directory")
    val dataRoot = dataDir(dir)
    def relUnder(base: Path, p: Path): String = {
      // listings return fully-qualified URIs (file:/..., hdfs://...);
      // qualify the base the same way before prefix-stripping
      val b = fs.makeQualified(base).toString.stripSuffix("/") + "/"
      val s = fs.makeQualified(p).toString
      require(s.startsWith(b), s"TxLog.convert: $p escapes $base")
      s.substring(b.length)
    }
    def listDataFiles(base: Path): Seq[String] = {
      if (!fs.exists(base)) return Nil
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(base, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = relUnder(base, st.getPath)
        val comps = rel.split('/')
        val hidden = comps.exists(c => c.startsWith("_") || c.startsWith("."))
        // listing the source root skips the data/ subtree — those are
        // files a previous (interrupted) convert already adopted
        if (st.isFile && rel.endsWith(".parquet") && !hidden &&
            !(base == root && comps.head == "data"))
          out += rel
      }
      out.toSeq
    }
    val pending = listDataFiles(root)
    val already = listDataFiles(dataRoot)
    require(pending.nonEmpty || already.nonEmpty,
      s"TxLog.convert: no parquet data files under $dir")
    (pending ++ already).foreach { rel =>
      val dirs = rel.split('/').dropRight(1)
      require(dirs.length == partitionCols.length &&
        dirs.zip(partitionCols).forall { case (d, c) => d.startsWith(c + "=") },
        s"TxLog.convert: '$rel' does not match the declared layout " +
          (if (partitionCols.isEmpty) "(unpartitioned)"
           else partitionCols.mkString("(", "/", "=...)")))
    }
    // the move: one rename per file. Above the distributed-index
    // threshold the renames run IN TASKS (a 10^6-file adoption must
    // not serialize 10^6 driver RPCs); below it the driver loop wins
    // (no job-launch latency). Both paths are restartable: a rename
    // that lost a race to a prior partial run finds its source gone
    // and its destination present — already adopted, not a failure.
    val moveThreshold = spark.conf
      .getOption("graft.txlog.distributedIndexThreshold")
      .map(_.toLong).getOrElse(100000L)
    if (pending.size >= moveThreshold) {
      val hconf = new org.apache.spark.SerializableWritable(
        spark.sparkContext.hadoopConfiguration)
      val rootStr = root.toString
      val dataStr = dataRoot.toString
      val parts = math.max(1, math.min(64, pending.size / 1000 + 1))
      val failed = spark.sparkContext.parallelize(pending, parts)
        .mapPartitions { it =>
          val conf = hconf.value
          val tfs = new Path(rootStr).getFileSystem(conf)
          it.flatMap { rel =>
            val to = new Path(dataStr, rel)
            tfs.mkdirs(to.getParent)
            val ok = tfs.rename(new Path(rootStr, rel), to) ||
              (!tfs.exists(new Path(rootStr, rel)) && tfs.exists(to))
            if (ok) None else Some(rel)
          }
        }.collect()
      require(failed.isEmpty,
        s"TxLog.convert: ${failed.length} renames failed " +
          s"(first: ${failed.headOption.getOrElse("")})")
    } else pending.foreach { rel =>
      val to = new Path(dataRoot, rel)
      fs.mkdirs(to.getParent)
      val from = new Path(root, rel)
      require(fs.rename(from, to), s"TxLog.convert: rename $from -> $to failed")
    }
    // prune now-empty source partition dirs (cosmetic; a non-empty or
    // shared dir simply stays)
    pending.map(r => new Path(root, r).getParent).distinct
      .filter(_ != root)
      .foreach(p => scala.util.Try(fs.delete(p, false)))
    val files = (pending ++ already).distinct.sorted
    val base = dataRoot.toString
    val schema = spark.read.option("basePath", base)
      .parquet(files.map(f => s"$base/$f"): _*).schema
    partitionCols.foreach(c => require(schema.fieldNames.contains(c),
      s"TxLog.convert: partition column '$c' did not recover from the layout"))
    validateStatsCols(schema, statsCols, "TxLog.convert")
    val (stats, rowCounts, nullCounts) =
      collectStats(spark, dir, schema, statsCols, files)
    cacheInvalidate(spark, dir)
    val m = Manifest(1L, partitionCols, schema.toDDL, files,
      statsCols = statsCols, fileStats = stats, fileRows = rowCounts,
      fileNulls = nullCounts,
      ts = Some(System.currentTimeMillis()),
      minWriter = if (partitionCols.size >= 2) 2 else 1)
    writeManifest(spark, dir, m, operation = "CONVERT")
    cachePut(spark, dir, m)
    1L
  }

  /** CREATE OR REPLACE — redefine the table as one commit while
    * KEEPING its history (Delta's `REPLACE TABLE`): the new version is
    * a FULL commit (its file list is wholly new anyway) with the
    * incoming frame's schema, the given partition column, and the
    * given stats set — all three may DIFFER from the old definition;
    * version-pinned reads of older versions keep their own schema and
    * layout, exactly like schema evolution. Constraints RESET (a
    * replace is a new table definition — historical versions still
    * show theirs). A race with a concurrent writer retries against
    * the new head; on a path with no table this is exactly [[create]]. */
  /** `keepPolicies = true` switches the semantics from REDEFINITION to
    * TRUNCATE + INSERT: the table's CHECK/UNIQUE constraints, DEFAULT/
    * GENERATED policies and IDENTITY marks CARRY into the new version
    * and vet/fill the incoming rows — the INSERT OVERWRITE door's
    * contract (an overwrite is a data operation; silently shedding the
    * governance contract would let the next insert write NULL ids into
    * a surrogate-key table). The identity mark only ever advances
    * (max of the fill's claim and the replaced head's mark), so an id
    * can never be re-issued against a LIVE row; re-use against
    * replaced-away history is the same trade RESTORE documents. */
  def createOrReplace(df: DataFrame, path: String,
                      partitionCol: Option[String] = None,
                      statsCols: Seq[String] = Nil,
                      maxRetries: Int = 10,
                      partitionCols: Seq[String] = Nil,
                      hiddenPartitions: Seq[String] = Nil,
                      keepPolicies: Boolean = false,
                      refuseAppendOnly: Boolean = false): Long = {
    val spark = df.sparkSession
    // truncate+insert (keepPolicies): the table's OWN definition is
    // the contract — layout, stats columns and schema all derive from
    // the head manifest, so no caller has to re-encode the layout-
    // exclusivity rules (the leak that broke hidden-partitioned
    // overwrites); a redefinition takes them from the arguments
    val policyBase: Option[Manifest] =
      if (!keepPolicies) None
      else Some(manifest(spark, path, currentVersion(spark, path)
        .getOrElse(throw new IllegalArgumentException(
          s"TxLog.createOrReplace(keepPolicies): no table at $path — " +
            "truncate+insert semantics need an existing definition"))))
    // TRUNCATE / INSERT OVERWRITE are DATA operations — the appendOnly
    // contract refuses them; a keepPolicies=false REDEFINITION is DDL
    // (constraints and properties reset) and stays open, the same
    // escape hatch as DROP TABLE
    policyBase.foreach(b => requireAppendable(b, path,
      "TRUNCATE / INSERT OVERWRITE (keepPolicies replace)"))
    val resolvedStats = policyBase.map(_.statsCols).getOrElse(statsCols)
    val resolvedPartCols = policyBase
      .map(b => if (b.partitionSpec.isEmpty) b.partitionCols else Nil)
      .getOrElse(partitionCols)
    val resolvedHidden =
      policyBase.map(_.partitionSpec).getOrElse(hiddenPartitions)
    require(keepPolicies ||
        partitionCol.isEmpty || resolvedPartCols.isEmpty,
      "TxLog.createOrReplace: pass partitionCol OR partitionCols, not both")
    require(resolvedHidden.isEmpty ||
        (partitionCol.isEmpty && resolvedPartCols.isEmpty),
      "TxLog.createOrReplace: hiddenPartitions and explicit partition " +
        "columns are mutually exclusive")
    val transforms =
      PartitionTransforms.parseAll(resolvedHidden, df.schema)
    transforms.foreach(t => require(!df.schema.fieldNames.contains(t.dirName),
      s"TxLog.createOrReplace: derived partition name '${t.dirName}' " +
        "collides with a schema column"))
    val layout =
      if (transforms.nonEmpty) transforms.map(_.dirName)
      else if (resolvedPartCols.nonEmpty) resolvedPartCols
      else if (keepPolicies) Nil
      else partitionCol.toSeq
    if (currentVersion(spark, path).isEmpty)
      return create(df, path, None, resolvedStats,
        if (transforms.nonEmpty) Nil else layout, resolvedHidden)
    validateStatsCols(df.schema, resolvedStats, "TxLog.createOrReplace")
    if (transforms.isEmpty)
      layout.foreach(c => require(df.schema.fieldNames.contains(c),
        s"TxLog.createOrReplace: partition column '$c' is not in the schema"))
    // truncate+insert semantics: fill policy/identity columns from the
    // CARRIED definitions and vet the rows before staging anything —
    // within-batch UNIQUE enforcement IS whole-table enforcement here,
    // since the batch becomes the whole table
    val (df1, idClaims) = policyBase match {
      case None => (df, Map.empty[String, (Long, Long)])
      case Some(base) =>
        val declared = StructType.fromDDL(base.schemaDdl)
        val filledPolicy = fillPolicyColumns(df, base, declared)
        val (filled, claims) =
          fillIdentityColumns(filledPolicy, base, "createOrReplace")
        checkSchema(declared, filled.schema, evolveSchema = false)
        enforceConstraints(filled, base.constraints, "INSERT OVERWRITE")
        enforceUniques(filled, spark, path, declared, Nil, base,
          "INSERT OVERWRITE (whole table)")
        (filled.select(declared.fieldNames.map(
          org.apache.spark.sql.functions.col).toIndexedSeq: _*), claims)
    }
    val files = stageIn(df1, path, layout, transforms)
    val (stats, rowCounts, nullCounts) =
      collectStats(spark, path, df1.schema, resolvedStats, files,
        recoverPartitions = transforms.isEmpty)
    // write-time CDC for the truncate+insert shape (keepPolicies —
    // schema identical by construction): the replaced snapshot's rows
    // as deletes, the batch as inserts. A keepPolicies=false
    // REDEFINITION stays uncaptured (schemas may not union) — the
    // keyless feed refuses across it, the same rule as RESTORE.
    // The delete-side snapshot is pinned to a VERSION, so the capture
    // is recomputed inside the retry loop whenever the head moved: an
    // interleaved append's rows are physically erased by this replace
    // and MUST appear as deletes in the committed record, or the
    // keyless feed silently under-reports (r16 advice).
    def mkCapture(snap: Manifest): Option[Seq[String]] =
      if (policyBase.isEmpty) None
      else captureCdc(spark, path, snap, {
        import org.apache.spark.sql.functions.{col, lit}
        val declared = StructType.fromDDL(snap.schemaDdl)
        read(spark, path, Some(snap.version))
          .select(declared.fieldNames.map(col).toIndexedSeq
            :+ lit("delete").as("_change_type"): _*)
          .unionByName(df1.select(declared.fieldNames.map(col).toIndexedSeq
            :+ lit("insert").as("_change_type"): _*))
      })
    var cdcCapture = policyBase.flatMap(mkCapture)
    var capturedAt = policyBase.map(_.version)
    var retries = 0
    while (true) {
      val v = currentVersion(spark, path).get
      val prev = manifest(spark, path, v)
      requireWritable(prev, path)
      // commit-time appendOnly gate for DATA-WRITER overwrites
      // (df.write.mode(Overwrite)): the caller's pre-check races a
      // concurrent SET TBLPROPERTIES between its head read and this
      // commit — re-checking the HEAD each retry closes the window the
      // way the keepPolicies path's constraints-equality check does
      // (r14 advice). keepPolicies=false DDL redefinitions stay open.
      if (refuseAppendOnly && isAppendOnly(prev))
        throw new UnsupportedOperationException(
          s"TxLog.createOrReplace: overwrite of $path is refused — " +
            s"table property $AppendOnlyProp=true protects committed " +
            "rows. UNSET TBLPROPERTIES first, or redefine via " +
            "TXLOG CREATE OR REPLACE.")
      // the rows were vetted/filled under policyBase's policy set — a
      // retry against a head whose DEFINITIONS changed (interleaved
      // ADD CONSTRAINT / setColumnIdentity) would carry a contract the
      // rows were never checked against: recompute instead (the same
      // rule commitRebase enforces)
      policyBase.foreach { base =>
        def nonIdentity(cs: Seq[(String, String)]) =
          cs.filterNot(_._1.startsWith(IdentityPrefix))
        if (nonIdentity(prev.constraints) != nonIdentity(base.constraints) ||
            prev.uniques != base.uniques ||
            identityColumns(prev).keySet != identityColumns(base).keySet)
          throw new CommitConflictException(
            s"TxLog.createOrReplace: concurrent constraint/policy change " +
              s"at $path (v${base.version} -> v${prev.version}) — " +
              "re-validate and recompute against the new snapshot")
      }
      // CDC capture tracks the head: if an interleaved commit moved it
      // past the version the delete-side snapshot was taken at,
      // re-stage the capture against the REAL replaced snapshot (prev)
      // — the stale staged dir orphans harmlessly (vacuum sweeps it).
      // An interleaved schema/colMap/CDF-declaration change makes the
      // frame unbuildable under the batch's vetted shape: conflict
      // loudly, the same posture as constraint drift above.
      policyBase.foreach { base =>
        if (!capturedAt.contains(prev.version) &&
            (cdfDeclared(base) || cdfDeclared(prev))) {
          if (prev.schemaDdl != base.schemaDdl ||
              prev.colMap != base.colMap ||
              cdfDeclared(prev) != cdfDeclared(base))
            throw new CommitConflictException(
              s"TxLog.createOrReplace: concurrent schema/CDF change at " +
                s"$path (v${base.version} -> v${prev.version}) under " +
                "graft.changeDataFeed — re-validate and recompute " +
                "against the new snapshot")
          cdcCapture = mkCapture(prev)
          capturedAt = Some(prev.version)
        }
      }
      // carried policies: identity marks never regress — the max of
      // this fill's claim and the replaced head's own mark
      val keptConstraints =
        if (!keepPolicies) Nil
        else prev.constraints.map {
          case (nm, e) if nm.startsWith(IdentityPrefix) =>
            val c = nm.stripPrefix(IdentityPrefix)
            val sep = e.indexOf(':')
            val headNext = e.drop(sep + 1).toLong
            val step = e.take(sep).toLong
            val claimed = idClaims.get(c).map(_._2).getOrElse(headNext)
            val next = if (step > 0) math.max(claimed, headNext)
                       else math.min(claimed, headNext)
            nm -> s"$step:$next"
          case other => other
        }
      // truncate+insert carries the DECLARED schema DDL verbatim: the
      // written frame's nullability is incidental (literal VALUES come
      // back non-nullable) and must not rewrite the table's contract —
      // an overwrite is a data op, not a redefinition
      val m = Manifest(v + 1, layout,
        policyBase.map(_.schemaDdl).getOrElse(df1.schema.toDDL),
        files.sorted,
        statsCols = resolvedStats, fileStats = stats, fileRows = rowCounts,
        fileNulls = nullCounts,
        constraints = keptConstraints,
        uniques = if (keepPolicies) prev.uniques else Nil,
        // the batch watermark carries forward — a replace must not
        // reopen the door to a replayed streaming batch
        sourceBatchId = prev.sourceBatchId,
        // per-app watermarks carry for the same reason
        txns = prev.txns,
        ts = Some(clampedTs(prev)),
        // writer-generation demands never downgrade (Delta's contract):
        // a replace resets constraints but keeps the gate sticky
        minWriter = math.max(prev.minWriter,
          if (layout.size >= 2 || transforms.nonEmpty) 2 else 1),
        partitionSpec = transforms.map(_.spec))
      try {
        writeManifest(spark, path, m, operation = "CREATE OR REPLACE",
          cdc = cdcCapture)
        cachePut(spark, path, m)
        maybeCheckpoint(spark, path, m)
        // keepPolicies keeps declared-index properties in force — the
        // replaced table's files all need fresh sidecars
        postCommitMaintain(spark, path, m, files, "CREATE OR REPLACE")
        return m.version
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
        // loop: re-read the head and retry — the staged files are
        // version-agnostic, only the version number moves
      }
    }
    -1L // unreachable
  }

  /** Read a version (default: newest). Scans Spark's own
    * `HadoopFsRelation` over [[graft.sources.TxLogFileIndex]] — the
    * plan the `graft-txlog` format door and the `graft.*` catalog
    * mount — so the manifest IS the file list: building the read runs
    * no Spark job, and filters on the result prune partitions and skip
    * files by the manifest's min/max stats. The result carries the
    * version's DECLARED schema, all columns nullable as on any parquet
    * read: partition values parse from the directory names straight
    * to their declared type, and the final projection restores the
    * manifest's column order and logical names, so round trips are
    * schema-exact. */
  def read(spark: SparkSession, path: String,
           version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    readFiles(spark, path, m, m.files)
  }

  /** [[read]] plus the row-POSITION metadata columns: `_file` (the
    * data-root-relative entry suffix) and `_pos` (the row's ordinal
    * within its file) — exactly the (file, position) identity
    * deletion vectors key on, surfaced for debugging, deterministic
    * sampling, and external DV computation. Positions of a COMMITTED
    * file are stable (DV deletes filter rows without renumbering the
    * survivors); a rewrite renumbers — this identifies (file, row),
    * it is not a durable row id. */
  def readWithPosition(spark: SparkSession, path: String,
                       version: Option[Long] = None): DataFrame = {
    import org.apache.spark.sql.functions.col
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    readFiles(spark, path, m, m.files, keepDvKey = true)
      .withColumn("_pos", col("_dv_idx").cast("long"))
      .withColumnRenamed("_dv_key", "_file")
      .drop("_dv_idx")
  }

  /** Plan a read of `files` (entries of `m`) returning `m`'s LOGICAL
    * schema — the one seam every snapshot read goes through ([[read]],
    * [[appendsSince]], merge/update/delete discovery, CDF, compaction).
    * The scan reads a view of `m` in the files' PHYSICAL spelling
    * (renamed columns under their original names, so partition dirs,
    * stats keys and the schema agree without a rename map), and the
    * final projection aliases back to logical names, so a rename is
    * invisible downstream. Rows listed in `m.dv` (the deletion-vector
    * state) anti-join away before the final projection, so EVERY
    * consumer of a DV-bearing snapshot sees the post-delete view
    * through this one seam. */
  private def readFiles(spark: SparkSession, path: String, m: Manifest,
                        files: Seq[String],
                        keepDvKey: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    val schema = StructType.fromDDL(m.schemaDdl)
    if (files.isEmpty)
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    // DVs relevant to THIS file subset only; a DV-free read stays
    // the plain scan (no metadata columns, no join)
    val fileSet = files.toSet
    val dvRelevant = m.dv.filter(_._2.keys.exists(fileSet))
    val view = m.copy(files = files,
      schemaDdl = org.apache.spark.sql.graftbridge.ExprBridge.asNullable(
        physicalize(schema, m.colMap)).toDDL,
      partitionCols = physPartCols(m), colMap = Nil, dv = Nil)
    val scan = spark.baseRelationToDataFrame(graft.sources.TxLogBatch.relation(
      spark, path, view,
      wholeVersion = fileSet.size == m.files.size && m.files.forall(fileSet),
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat,
      viewColMap = m.colMap))
    val scanned =
      if (dvRelevant.isEmpty && !keepDvKey) scan
      else scan
        // the same file key the DV writer computed: data-root-relative
        // suffix (identical for relative entries and clone refs)
        .withColumn("_dv_key", expr("substring_index(input_file_name(), '/data/', -1)"))
        .withColumn("_dv_idx", col("_metadata.row_index"))
    val filtered =
      if (dvRelevant.isEmpty) scanned
      else {
        val dvDf = readDv(spark, dvRelevant.map { case (f, _) => dvPath(path, f) })
          .select(col("f").as("_dv_key"), col("row_index").as("_dv_idx"))
        // DV rows are delete-sized: AQE broadcasts the anti-join side
        scanned.join(dvDf, Seq("_dv_key", "_dv_idx"), "left_anti")
      }
    // backtick-quoted so dotted/spaced column names never mis-parse
    // (same contract as Profile); restores the declared column ORDER
    // (partition columns scan last) and the LOGICAL names
    val projection = schema.fields.map(f =>
      col("`" + physOf(m, f.name).replace("`", "``") + "`").as(f.name))
    filtered.select((projection ++ (if (keepDvKey)
      Seq(col("_dv_key"), col("_dv_idx")) else Nil)).toIndexedSeq: _*)
  }

  /** A DV file reference resolves like a data entry: table-relative
    * under `_dv/`, or absolute (a shallow clone's pointer into the
    * source's DV dir). */
  private[graft] def dvPath(path: String, f: String): String =
    if (isAbsEntry(f)) f else new Path(new Path(path, "_dv"), f).toString

  /** Read `.dv` sidecars with their fixed schema: without it every read
    * would run Spark's schema-inference job over the sidecar's footer. */
  private def readDv(spark: SparkSession, files: Seq[String]): DataFrame =
    spark.read.schema(DvSchema).parquet(files: _*)

  private val DvSchema = StructType.fromDDL("f STRING, row_index BIGINT")

  /** Exact hit-file discovery, the scan behind every file-granular
    * rewrite: read `files` with the `_dv_key` file key (computed inside
    * the scan, so it survives a DV anti-join), keep the rows `narrow`
    * keeps (a predicate filter or a key semi-join), and collect the
    * distinct keys — a set bounded by the file count, never data —
    * resolved to manifest entries. */
  private def discoverHitFiles(spark: SparkSession, path: String, m: Manifest,
                               files: Seq[String],
                               narrow: DataFrame => DataFrame): Set[String] =
    if (files.isEmpty) Set.empty
    else {
      val resolve = entryResolver(m.files)
      narrow(readFiles(spark, path, m, files, keepDvKey = true))
        .select("_dv_key").distinct().collect()
        .map(r => resolve(r.getString(0))).toSet
    }

  /** Write the `(_dv_key, _dv_idx)` positions of `rows` as a fresh
    * `<uuid>.dv` sidecar and count them per file FROM the written file,
    * so the committed counts describe exactly the bytes on disk even
    * under a non-deterministic condition. Returns the sidecar name and
    * the per-entry counts; None, with the sidecar deleted, when no row
    * was written. */
  private def writeDv(spark: SparkSession, path: String, m: Manifest,
                      rows: DataFrame): Option[(String, Map[String, Long])] = {
    import org.apache.spark.sql.functions.{col, count, lit}
    val dvName = java.util.UUID.randomUUID().toString.take(12) + ".dv"
    val dvFile = dvPath(path, dvName)
    rows.select(col("_dv_key").as("f"), col("_dv_idx").cast("long").as("row_index"))
      .write.parquet(dvFile)
    val perKey = readDv(spark, Seq(dvFile)).groupBy("f")
      .agg(count(lit(1)).as("n")).collect()
    if (perKey.isEmpty) {
      fsFor(spark, path).delete(new Path(dvFile), true)
      None
    } else {
      val resolve = entryResolver(m.files)
      Some(dvName -> perKey.map(r => resolve(r.getString(0)) -> r.getLong(1)).toMap)
    }
  }

  /** The data-skipping planner: files of a version whose tracked
    * [min, max] could intersect [lower, upper] on `colName`. Files
    * without a stats entry (all-null, or committed before stats were
    * tracked) are kept — pruning is an optimization, never a filter.
    * The vote is the stats-v2 contract's ([[TsStatsPrefix]] below):
    * the same one the `graft-txlog` planner runs. */
  def prunedFiles(spark: SparkSession, path: String, colName: String,
                  lower: Any, upper: Any,
                  version: Option[Long] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    val trackedKey =
      if (parseVariantStats(colName).isDefined) colName
      else physOf(m, colName)
    if (!m.statsCols.contains(trackedKey)) return m.files // not tracked: no pruning
    pruneByRange(m, StructType.fromDDL(m.schemaDdl), m.files, colName,
      lower, upper, spark.sessionState.conf.sessionLocalTimeZone)
  }

  /** Stats-encoding contract (v2). Per tracked column, file min/max
    * serialize as strings:
    *  - TimestampType: `us:<epoch micros>` — exact and TIMEZONE-FREE.
    *    The previous Cast-to-string encoding rendered in the WRITING
    *    session's timezone, so a table written under one tz and read
    *    under another silently mis-pruned. Legacy (un-prefixed)
    *    timestamp entries never vote — per-entry fail-open, so mixed
    *    tables stay correct and merely lose pruning on old files.
    *  - NumericType: plain decimal string, compared as BigDecimal
    *    (NaN/Infinity bounds fail open).
    *  - DateType/StringType: Cast-to-string — zero-padded ISO dates
    *    and identity strings, compared in UTF-8 BYTE order (Spark's
    *    string order, the one min/max wrote the bounds in — not
    *    `String.compareTo`'s UTF-16 order).
    *  - everything else (boolean, binary, intervals): recorded but
    *    never voted — no order-preserving string encoding.
    * Query bounds encode through [[statsBound]], compare through
    * [[statsCompare]] and vote through [[statsAdmits]] — the one vote
    * every pruning caller runs. */
  private[graft] val TsStatsPrefix = "us:"

  /** A declared VARIANT-PATH stats column — the `v:$.k` spelling (r17
    * verdict #8): `<column>:$.<path>[:<type>]`, where `<type>` defaults
    * to double (numeric-range skipping, the common case) and may be
    * any of string|bigint|int|double|date|timestamp. Shredded writes
    * (spark.sql.variant.writeShredding) store common paths as typed,
    * stats-bearing parquet columns; this is the manifest-side pairing:
    * per-file min/max of `variant_get(column, path, type)` measured at
    * commit (the collect reads the just-written files, so a shredded
    * file serves the extraction from its typed_value pages), voting in
    * [[prunedFiles]]/[[readBetween]] exactly like a real column's
    * stats. A path absent or differently-typed in some rows extracts
    * null there; a file with NO extractable values records no bounds
    * and never votes — the skip index's standard fail-open. */
  private[graft] final case class VariantStatsPath(column: String,
                                                   path: String,
                                                   typeName: String) {
    def cast: org.apache.spark.sql.types.DataType = typeName match {
      case "string" => org.apache.spark.sql.types.StringType
      case "bigint" | "long" => org.apache.spark.sql.types.LongType
      case "int" => org.apache.spark.sql.types.IntegerType
      case "double" => org.apache.spark.sql.types.DoubleType
      case "date" => org.apache.spark.sql.types.DateType
      case "timestamp" => org.apache.spark.sql.types.TimestampType
      case other => throw new IllegalArgumentException(
        s"TxLog: unsupported variant stats type '$other' in " +
          s"'$column:$path:$typeName' (string|bigint|int|double|date|" +
          "timestamp)")
    }
    def extract: org.apache.spark.sql.Column =
      org.apache.spark.sql.functions.expr(
        s"variant_get(`${column.replace("`", "``")}`, '$path', '$typeName')")
  }

  private[graft] def parseVariantStats(c: String): Option[VariantStatsPath] = {
    val parts = c.split(":", 3)
    if (parts.length >= 2 && parts(1).startsWith("$."))
      Some(VariantStatsPath(parts(0), parts(1),
        if (parts.length == 3) parts(2) else "double"))
    else None
  }

  /** The ORDERING type a stats column's bounds encode under — the
    * declared cast for a variant path, the schema type otherwise. */
  private def statsColType(schema: StructType, c: String)
      : org.apache.spark.sql.types.DataType =
    parseVariantStats(c).map(_.cast).getOrElse(schema(c).dataType)

  /** The extraction expression a stats column measures. */
  private def statsColExpr(c: String): org.apache.spark.sql.Column =
    parseVariantStats(c).map(_.extract)
      .getOrElse(org.apache.spark.sql.functions.col(
        s"`${c.replace("`", "``")}`"))

  /** Shared declaration check for `statsCols`: plain entries must name
    * a schema column; `v:$.k` entries must name a VARIANT schema column
    * and a supported type. */
  private def validateStatsCols(schema: StructType,
                                statsCols: Seq[String],
                                who: String): Unit =
    statsCols.foreach { c =>
      parseVariantStats(c) match {
        case Some(vp) =>
          require(schema.fieldNames.contains(vp.column),
            s"$who: variant stats path '$c' names column '${vp.column}' " +
              "which is not in the schema")
          require(schema(vp.column).dataType ==
              org.apache.spark.sql.types.VariantType,
            s"$who: stats path '$c' requires '${vp.column}' to be " +
              s"VARIANT, got ${schema(vp.column).dataType.simpleString}")
          vp.cast // validates the type name, throws on garbage
        case None =>
          require(schema.fieldNames.contains(c),
            s"$who: stats column '$c' is not in the schema")
          require(schema(c).dataType !=
              org.apache.spark.sql.types.VariantType,
            s"$who: min/max stats on a whole variant column '$c' are " +
              "meaningless (a variant has no value order) — declare a " +
              s"typed PATH instead, e.g. '$c:$$.field:bigint'")
      }
    }

  private def statsEncode(dt: org.apache.spark.sql.types.DataType,
                          c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{concat, lit, unix_micros}
    dt match {
      case org.apache.spark.sql.types.TimestampType =>
        concat(lit(TsStatsPrefix), unix_micros(c).cast("string"))
      case _ => c.cast("string")
    }
  }

  /** Decode a stats-v2 timestamp bound; None = legacy/foreign encoding
    * (the entry must not vote). */
  private[graft] def tsStatsDecode(s: String): Option[BigDecimal] =
    if (s != null && s.startsWith(TsStatsPrefix))
      scala.util.Try(BigDecimal(s.substring(TsStatsPrefix.length))).toOption
    else None

  /** Encode a QUERY bound the way [[statsEncode]] encoded the file
    * bounds, so comparisons are exact: timestamps to `us:` micros
    * (strings already in stats encoding pass through; other values
    * cast to timestamp under the session tz first), everything else
    * Cast-to-string under the session tz. None = unencodable — that
    * side of the vote fails OPEN. */
  private[graft] def statsBound(dt: org.apache.spark.sql.types.DataType,
                                tz: String,
                                l: org.apache.spark.sql.catalyst.expressions.Literal)
      : Option[String] = {
    import org.apache.spark.sql.catalyst.expressions.Cast
    import org.apache.spark.sql.types.{StringType, TimestampType}
    scala.util.Try {
      if (dt != TimestampType)
        Option(Cast(l, StringType, Some(tz)).eval(null)).map(_.toString)
      else if (l.dataType == StringType && l.value != null &&
          l.value.toString.startsWith(TsStatsPrefix)) Some(l.value.toString)
      else if (l.dataType == TimestampType) Option(l.value).map(TsStatsPrefix + _)
      else Option(Cast(l, TimestampType, Some(tz)).eval(null)).map(TsStatsPrefix + _)
    }.toOption.flatten
  }

  /** How two stats-encoded bounds compare; None = an operand does not
    * decode (NaN/Infinity decimals, legacy timestamp strings) and the
    * vote fails open. */
  private[graft] type StatsCompare = (String, String) => Option[Int]

  /** The comparison a stats column's type votes with, or None for a
    * type with no order-preserving encoding (it never votes). Strings
    * and dates compare in UTF-8 BYTE order — the order Spark's min/max
    * wrote the bounds in; `String.compareTo` orders UTF-16 code units,
    * which disagrees above U+FFFF and would skip rows the query needs. */
  private[graft] def statsCompare(dt: org.apache.spark.sql.types.DataType)
      : Option[StatsCompare] = {
    import org.apache.spark.sql.types.{DateType, NumericType, StringType, TimestampType}
    import org.apache.spark.unsafe.types.UTF8String
    dt match {
      case _: NumericType => Some((a, b) =>
        scala.util.Try(BigDecimal(a).compare(BigDecimal(b))).toOption)
      case TimestampType => Some((a, b) =>
        for { x <- tsStatsDecode(a); y <- tsStatsDecode(b) } yield x.compare(y))
      case DateType | StringType => Some((a, b) =>
        Some(UTF8String.fromString(a).binaryCompare(UTF8String.fromString(b))))
      case _ => None
    }
  }

  /** THE min/max vote: may a file whose stats entry is `stat` hold a
    * value in [lo, hi] (either side open when None)? A stats-less file
    * is kept — pruning is an optimization, never a filter. Shared by
    * [[pruneByRange]] and the `graft-txlog` planner's driver walk and
    * distributed listing. */
  private[graft] def statsAdmits(stat: Option[(String, String)],
                                 cmp: StatsCompare,
                                 lo: Option[String], hi: Option[String]): Boolean =
    stat.forall { case (mn, mx) =>
      lo.forall(l => cmp(mx, l).forall(_ >= 0)) &&
        hi.forall(h => cmp(mn, h).forall(_ <= 0))
    }

  /** [[prunedFiles]]'s min/max overlap rule over an ARBITRARY
    * candidate subset: the shared vote ([[statsAdmits]]) with both
    * bounds encoded by [[statsBound]]. The caller guarantees `colName`
    * is a tracked stats column. */
  private def pruneByRange(m: Manifest, schema: StructType,
                           files: Seq[String], colName: String,
                           lower: Any, upper: Any, tz: String): Seq[String] = {
    val dt = statsColType(schema, colName)
    // stats are keyed by PHYSICAL name (stable across renames); a
    // variant-path spelling is its own key (renaming the base variant
    // column orphans its path stats — fail-open, re-ANALYZE to rebuild)
    val statsKey =
      if (parseVariantStats(colName).isDefined) colName
      else physOf(m, colName)
    def enc(v: Any): Option[String] =
      scala.util.Try(org.apache.spark.sql.catalyst.expressions.Literal(v)).toOption
        .flatMap(statsBound(dt, tz, _))
    statsCompare(dt) match {
      case None => files
      case Some(cmp) =>
        val (lo, hi) = (enc(lower), enc(upper))
        files.filter(f =>
          statsAdmits(m.fileStats.get(f).flatMap(_.get(statsKey)), cmp, lo, hi))
    }
  }

  /** Range read WITH data skipping: semantically identical to
    * `read(...).filter(col BETWEEN lower AND upper)` — the exact
    * filter still applies on the scan — but only the files whose
    * stats admit a match are planned at all. On a clustered layout
    * ([[compact]] with `zorderBy`, or naturally sorted ingest) that
    * turns a selective range query from a table scan into a few-file
    * scan; on an unclustered layout it degrades gracefully to the
    * plain read. */
  def readBetween(spark: SparkSession, path: String, colName: String,
                  lower: Any, upper: Any,
                  version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    val files = prunedFiles(spark, path, colName, lower, upper, Some(v))
    import org.apache.spark.sql.functions.lit
    // a variant-path column filters through its declared extraction
    readFiles(spark, path, m, files)
      .filter(statsColExpr(colName).between(lit(lower), lit(upper)))
  }

  /** Incremental consumption for append-mostly tables: the rows added
    * between `sinceVersion` and `toVersion` (default head), read at
    * FILE granularity — zero joins, zero diffing, just the manifests'
    * set difference planned as a scan. This is the poll loop of a
    * downstream ingester ("give me what's new since the version I
    * last processed"), and with [[appendBatch]]'s watermark it closes
    * an exactly-once relay: remember the version you consumed, ask
    * again later.
    *
    * File-level increments are only row-accurate while history is
    * append-only, so this FAILS LOUDLY if any file referenced by
    * `sinceVersion` is gone from `toVersion` (a merge/delete/compact
    * rewrote rows in between) — consume [[changes]] instead there.
    * New columns from schema evolution surface as typed nulls in the
    * pre-evolution files' rows, the usual contract. */
  def appendsSince(spark: SparkSession, path: String, sinceVersion: Long,
                   toVersion: Option[Long] = None): DataFrame = {
    val to = toVersion.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val mTo = manifest(spark, path, to)
    val mFrom = manifest(spark, path, sinceVersion)
    val toSet = mTo.files.toSet
    val removed = mFrom.files.filterNot(toSet)
    require(removed.isEmpty,
      s"TxLog.appendsSince: ${removed.size} files of v$sinceVersion were " +
        s"rewritten between v$sinceVersion and v$to — history is not " +
        "append-only over this range; consume TxLog.changes instead")
    // a DV delete changes ROWS without changing the file set — the
    // file-level increment would silently miss it; same loud contract
    require(mFrom.dv == mTo.dv,
      s"TxLog.appendsSince: deletion vectors changed between " +
        s"v$sinceVersion and v$to — history is not append-only over " +
        "this range; consume TxLog.changes instead")
    val fromSet = mFrom.files.toSet
    readFiles(spark, path, mTo, mTo.files.filterNot(fromSet))
  }

  /** Files ADDED by version `v` over its predecessor — the
    * per-version unit the streaming source slices. Loud refusal on
    * rewrites, [[appendsSince]]'s contract at single-version grain. */
  private[graft] def addedFiles(spark: SparkSession, path: String,
                                v: Long): Seq[String] = {
    val m = manifest(spark, path, v)
    val prev = manifest(spark, path, v - 1)
    val cur = m.files.toSet
    val removed = prev.files.filterNot(cur)
    require(removed.isEmpty,
      s"TxLog: ${removed.size} files of v${v - 1} were rewritten by v$v — " +
        "history is not append-only over this range; consume TxLog.changes instead")
    require(prev.dv == m.dv,
      s"TxLog: deletion vectors changed at v$v — history is not " +
        "append-only here; consume TxLog.changes instead")
    val prevSet = prev.files.toSet
    m.files.filterNot(prevSet)
  }

  /** Plan a read over an explicit subset of `version`'s files with
    * that version's declared schema — the streaming source's
    * file-sliced batch read. */
  private[graft] def readFileList(spark: SparkSession, path: String,
                                  version: Long, files: Seq[String]): DataFrame = {
    val m = manifest(spark, path, version)
    readFiles(spark, path, m, files)
  }

  /** Additive-only schema widening: every declared column keeps its
    * position and type; incoming columns either match a declared
    * column's type exactly (nullability aside) or append at the end.
    * Narrowing/dropping/retyping fails loudly — a changed type would
    * silently corrupt every historical file's read. */
  private def widen(declared: StructType, incoming: StructType): StructType = {
    val byName = declared.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { o =>
        require(o.dataType == f.dataType,
          s"TxLog: type conflict on '${f.name}': table has ${o.dataType.sql}, " +
            s"incoming has ${f.dataType.sql} — evolution is additive-only")
      }
    }
    StructType(declared.fields ++
      incoming.fields.filterNot(f => byName.contains(f.name)))
  }

  /** Reject writes whose schema would lose data silently: overlapping
    * columns must type-match, and EXTRA incoming columns require
    * `evolveSchema = true` (the declared-schema read would drop them
    * without a sound). Missing declared columns are fine — old readers
    * see nulls, the parquet contract. */
  private def checkSchema(declared: StructType, incoming: StructType,
                          evolveSchema: Boolean): Unit = {
    val byName = declared.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name) match {
        case Some(o) =>
          require(o.dataType == f.dataType,
            s"TxLog: type conflict on '${f.name}': table has ${o.dataType.sql}, " +
              s"incoming has ${f.dataType.sql}")
        case None =>
          require(evolveSchema,
            s"TxLog: incoming column '${f.name}' is not in the table schema — " +
              "pass evolveSchema = true to widen, or drop it explicitly")
      }
    }
  }

  // ------------------------------------------------------------------
  // CHECK constraints (Delta's ALTER TABLE ... ADD CONSTRAINT shape)
  // ------------------------------------------------------------------

  /** A commit was refused because incoming rows violate a table CHECK
    * constraint. Nothing was committed — the table is unchanged. */
  final class ConstraintViolationException(msg: String)
    extends IllegalStateException(msg)

  /** Probe `df` against the table's CHECK constraints with SQL
    * semantics: a row violates only when an expression evaluates to
    * FALSE — NULL is unknown, and unknown is not a violation (the same
    * `coalesce(check, true)` rule [[graft.operators.Check]] documents
    * for the opposite direction on its audit side). One job, all
    * constraints at once, first violating row reported with every
    * constraint it fails. Runs BEFORE [[stageIn]], so a refused commit
    * stages nothing. */
  // ------------------------------------------------------------------
  // Column policies: DEFAULT and GENERATED columns ride the constraint
  // channel under reserved names (`__default__<col>` holds the DEFAULT
  // expression, `__generated__<col>` the generation expression) — one
  // serialization, checkpointing, clone/restore and protocol-gating
  // story instead of a new manifest field. User constraint names may
  // not start with `__`, so the namespaces cannot collide.
  // ------------------------------------------------------------------
  private val DefaultPrefix = "__default__"
  private val GeneratedPrefix = "__generated__"
  // IDENTITY columns ride the same channel: `__identity__<col>` holds
  // `<step>:<next>` where `next` is the table's high-water mark — the
  // next unallocated value. Unlike DEFAULT/GENERATED entries the value
  // ADVANCES with every allocating commit ([[commitRebase]] rewrites it
  // under the claims the filling verb passes), and a concurrent
  // allocation is an OCC race the append family resolves by re-filling
  // from the new head — two racing appends always land disjoint ranges.
  private val IdentityPrefix = "__identity__"

  /** Column → (step, next unallocated value). */
  private[graft] def identityColumns(m: Manifest): Map[String, (Long, Long)] =
    m.constraints.collect { case (n, e) if n.startsWith(IdentityPrefix) =>
      val sep = e.indexOf(':')
      n.stripPrefix(IdentityPrefix) ->
        (e.take(sep).toLong, e.drop(sep + 1).toLong)
    }.toMap

  /** A commit's identity claims were computed against a watermark a
    * concurrent commit has since advanced — the staged files carry ids
    * another writer may also have allocated. The append family catches
    * this and re-fills from the new head; rewrite verbs surface it as
    * a [[CommitConflictException]] (recompute). */
  private[graft] final class IdentityRaceException(msg: String)
    extends RuntimeException(msg)

  // ---- table properties: free-form (key → value) metadata riding
  // the constraints channel under a reserved prefix (the same lane
  // DEFAULT/GENERATED/IDENTITY policies use), so every commit shape,
  // CLONE, RESTORE and keepPolicies-overwrite carries them with ZERO
  // new serialization, and a concurrent SET TBLPROPERTIES conflicts
  // interleaved data writers exactly like a constraint change
  // (commitRebase compares the channel by equality) — load-bearing
  // for the enforced switch: a DELETE staged under appendOnly=false
  // must not land after a racing set-to-true.
  private val PropPrefix = "__prop__"

  /** The one ENFORCED property (Delta's `delta.appendOnly`): `true`
    * refuses every verb that deletes or rewrites committed rows —
    * DELETE/UPDATE (both copy-on-write and deletion-vector forms),
    * MERGE with matched/not-matched-by-source clauses, CDC apply,
    * REPLACE PARTITIONS, RESTORE, TRUNCATE and INSERT OVERWRITE
    * (the keepPolicies door). Appends, OPTIMIZE/compaction (content-
    * preserving rewrites), schema DDL and VACUUM stay open. An
    * explicit REDEFINITION (`CREATE OR REPLACE` without keepPolicies)
    * also stays open: it is DDL that resets the whole governance
    * contract — the same escape hatch as DROP TABLE, which no table
    * property can prevent. */
  val AppendOnlyProp = "graft.appendOnly"

  /** Per-TABLE override of the session's `graft.txlog.optimizedWrite`
    * (Delta's `delta.autoOptimize.optimizeWrite` shape): the table
    * that is always ingested partitioned declares its own layout
    * discipline instead of trusting every writer's session conf.
    * Layout-only — no writer-generation gate (an older build ignoring
    * it writes more small files, never wrong rows). */
  val OptimizedWriteProp = "graft.optimizedWrite"

  /** Declared clustering (comma-separated columns): a bare
    * `OPTIMIZE` / [[compact]] with no explicit `zorderBy` lays the
    * table out by its own declaration — the liquid-clustering
    * ergonomic (the table, not each maintenance job, owns its sort
    * story). An explicit `zorderBy` always wins. Columns validate
    * against the schema at SET time and again at use (a later DROP
    * COLUMN leaves the property stale — OPTIMIZE then refuses loudly
    * until it is re-declared). */
  val ZorderColsProp = "graft.zorderCols"

  /** Declared retention (hours): a [[vacuum]] called WITHOUT an
    * explicit `keepHours` honors the table's own word (Delta's
    * `delta.deletedFileRetentionDuration` shape) — the audited table
    * declares its time-travel window once instead of trusting every
    * maintenance job's flags. An explicit `keepHours` always wins
    * (the operator on the ground is never overridden by metadata). */
  val RetentionHoursProp = "graft.retentionHours"

  /** Declared Bloom point-lookup columns (comma-separated): every DATA
    * commit to a declared table extends the per-file Bloom sidecar
    * index for exactly the files it added (buildBloomIndex is already
    * incremental + idempotent — this property just makes maintenance
    * automatic, Delta's `delta.bloomFilter` ergonomic). Layout-only:
    * no writer-generation gate — an older writer that skips the
    * sidecar costs the next point read a few extra file scans, never
    * wrong rows (readByKey treats missing sidecars as "may contain").
    * Columns validate against the schema at SET time. */
  val BloomColsProp = "graft.bloomCols"

  /** Declared merge-on-read (Delta's `delta.enableDeletionVectors`):
    * DELETE/UPDATE on a declared table default to deletion-vector mode
    * — the hot-table contract (delete cost ∝ deleted rows, not
    * rewritten files) becomes the TABLE's word instead of every
    * caller's flag. Monotone like Delta's: an explicit
    * `deletionVectors = true` call still works on undeclared tables;
    * compaction remains the documented materialization path. */
  val DeletionVectorsProp = "graft.deletionVectors"

  /** Auto-compaction (Delta's `delta.autoOptimize.autoCompact` shape):
    * after a DATA commit to a declared table, any touched partition
    * whose small-file count crossed the threshold is compacted by a
    * FOLLOW-ON commit — never inside the caller's commit, so a failed
    * heal can never fail the write that triggered it. Refused on
    * appendOnly tables (compaction removes files). */
  val AutoCompactProp = "graft.autoCompact"

  /** Write-time CDC capture (Delta's `delta.enableChangeDataFeed`):
    * on a declared table every row-changing verb (DELETE/UPDATE/MERGE/
    * REPLACE WHERE/overwrite/applyChanges) stages its row-level change
    * record — full row + `_change_type`, update rows as exact
    * preimage/postimage pairs — under `_change_data/` and references
    * it from the commit node, so [[changeFeed]] serves the feed (a)
    * on tables with NO unique key and (b) reading O(changed rows),
    * never two snapshot scans per window. Pure appends need no
    * sidecar (the added files ARE the inserts); OPTIMIZE/compaction
    * commits change no rows and are skipped. */
  val ChangeDataFeedProp = "graft.changeDataFeed"

  /** ANALYZE staleness automation (r17 verdict #4): on a declared
    * table every DATA commit that adds files refreshes the persisted
    * NDV sketches as a FOLLOW-ON step (never inside the caller's
    * commit; a failed refresh costs staler stats, nothing else).
    * Append-only histories ride [[Analyze]]'s incremental merge —
    * O(new files): the fresh slice is sketched and hll_union'd into
    * the stored sketches; rewrite histories fall back to the full
    * recompute the sketches' no-unmerge algebra requires. OPTIMIZE
    * commits are skipped (compaction moves rows between files without
    * changing them — NDV is invariant). */
  val AutoAnalyzeProp = "graft.autoAnalyze"

  /** Key → value of the properties a manifest carries. */
  private[graft] def propsOf(m: Manifest): Map[String, String] =
    m.constraints.collect { case (n, v) if n.startsWith(PropPrefix) =>
      n.stripPrefix(PropPrefix) -> v
    }.toMap

  /** Table properties in force at `version` (default: head). */
  def propertiesOf(spark: SparkSession, path: String,
                   version: Option[Long] = None): Map[String, String] = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    propsOf(manifest(spark, path, v))
  }

  /** SET TBLPROPERTIES — one metadata commit (re-setting a present key
    * overwrites its value). Setting `graft.appendOnly=true` raises the
    * table's writer gate to generation 5: an older writer would carry
    * the property but still delete, so it must refuse whole. */
  /** The schema-free subset of [[setProperties]]' validation — key
    * shape and fixed-value checks. Callers that stage work before the
    * table exists (GraftCatalog.createTable) pre-check the user map so
    * an invalid TBLPROPERTIES refuses cleanly with NOTHING written
    * (r14 advice: a post-create refusal left a committed-but-
    * unregistered dir). */
  def validateProperties(props: Map[String, String],
                         schemaFields: Option[Set[String]] = None): Unit = {
    props.keys.foreach(k => require(
      k.nonEmpty && k.matches("""[A-Za-z0-9._\-]+""") && !k.startsWith("__"),
      s"TxLog.setProperties: property key must be [A-Za-z0-9._-]+ and not " +
        s"start with '__', got '$k'"))
    Seq(AppendOnlyProp, OptimizedWriteProp, AutoCompactProp,
        DeletionVectorsProp, ChangeDataFeedProp, AutoAnalyzeProp).foreach(p =>
      props.get(p).foreach(v => require(
        v.equalsIgnoreCase("true") || v.equalsIgnoreCase("false"),
        s"TxLog.setProperties: $p must be true or false, got '$v'")))
    props.get(RetentionHoursProp).foreach(v => require(
      v.toDoubleOption.exists(_ >= 0),
      s"TxLog.setProperties: $RetentionHoursProp must be a " +
        s"non-negative number of hours, got '$v'"))
    // column-list properties validate against the declared schema when
    // the caller has one in hand (CREATE TABLE pre-validation — r15
    // advice: a bogus graft.bloomCols refused only AFTER TxLog.create,
    // leaving a committed-but-unregistered dir); setProperties re-runs
    // the same check against the live manifest's schema
    schemaFields.foreach { declared =>
      Seq(ZorderColsProp, BloomColsProp).foreach(p =>
        props.get(p).foreach(csv =>
          csv.split(",").map(_.trim).filter(_.nonEmpty).foreach(c =>
            require(declared.contains(c),
              s"TxLog.setProperties: $p column '$c' is not in the " +
                s"schema (${declared.toSeq.sorted.mkString(", ")})"))))
      // the change feed's meta columns are reserved on declared tables
      // (Delta reserves the same names): a schema column named
      // _change_type would collide with every captured record
      if (props.get(ChangeDataFeedProp).exists(_.equalsIgnoreCase("true")))
        CdfReservedCols.foreach(c => require(!declared.contains(c),
          s"TxLog.setProperties: $ChangeDataFeedProp=true reserves " +
            s"column name '$c' for the change feed — rename the " +
            "schema column first"))
    }
  }

  /** Column names the change feed claims on a declared table. */
  private[graft] val CdfReservedCols =
    Seq("_change_type", "_commit_version", "_commit_timestamp")

  def setProperties(spark: SparkSession, path: String,
                    props: Map[String, String]): Long = {
    require(props.nonEmpty, "TxLog.setProperties: empty property map")
    validateProperties(props)
    val enforcing = props.get(AppendOnlyProp).exists(_.equalsIgnoreCase("true"))
    val v = commitConstraints(spark, path,
      update = { m =>
        Seq(ZorderColsProp, BloomColsProp).foreach(p =>
          props.get(p).foreach { csv =>
            val declared = StructType.fromDDL(m.schemaDdl).fieldNames.toSet
            csv.split(",").map(_.trim).filter(_.nonEmpty).foreach(c =>
              require(declared.contains(c),
                s"TxLog.setProperties: $p column '$c' is not " +
                  s"in the schema (${m.schemaDdl})"))
          })
        // declaring the change feed reserves its meta column names
        if (props.get(ChangeDataFeedProp).exists(_.equalsIgnoreCase("true"))) {
          val declared = StructType.fromDDL(m.schemaDdl).fieldNames.toSet
          CdfReservedCols.foreach(c => require(!declared.contains(c),
            s"TxLog.setProperties: $ChangeDataFeedProp=true reserves " +
              s"column name '$c' for the change feed — rename the " +
              "schema column first"))
        }
        // appendOnly and autoCompact are mutually exclusive: the
        // compaction heal REMOVES files, which is exactly what the
        // append-only contract forbids — refuse the combination in
        // either order (checked against the RESULTING property set,
        // inside the OCC'd update so a race cannot assemble it)
        val resulting = propsOf(m) ++ props
        require(
          !(resulting.get(AppendOnlyProp).exists(_.equalsIgnoreCase("true")) &&
            resulting.get(AutoCompactProp).exists(_.equalsIgnoreCase("true"))),
          s"TxLog.setProperties: $AutoCompactProp=true and " +
            s"$AppendOnlyProp=true cannot combine — auto-compaction " +
            "removes files, which the append-only contract forbids")
        val keep = m.constraints.filterNot { case (n, _) =>
          n.startsWith(PropPrefix) && props.contains(n.stripPrefix(PropPrefix)) }
        (keep ++ props.toSeq.sortBy(_._1)
          .map { case (k, v) => (PropPrefix + k) -> v }, m.uniques)
      },
      operation = s"SET TBLPROPERTIES (${props.keys.toSeq.sorted.mkString(", ")})",
      revalidate = _ => (),
      minWriterFloor = if (enforcing) 5 else 0)
    // newly-declared Bloom columns BACKFILL the existing files right
    // away (idempotent, O(files without a sidecar)); failures warn —
    // the property is committed and the next data commit retries
    props.get(BloomColsProp).foreach { csv =>
      try csv.split(",").map(_.trim).filter(_.nonEmpty)
        .foreach(c => buildBloomIndex(spark, path, c))
      catch {
        case scala.util.control.NonFatal(e) =>
          System.err.println(
            s"TxLog: declared Bloom backfill at $path failed " +
              s"(${e.getMessage}) — continuing; the next commit retries")
      }
    }
    v
  }

  /** UNSET TBLPROPERTIES — idempotent: absent keys are a no-op (no
    * commit is written when nothing would change). The writer gate
    * never lowers — the documented one-way ratchet every generation
    * bump shares. */
  def unsetProperties(spark: SparkSession, path: String,
                      keys: Seq[String]): Long = {
    require(keys.nonEmpty, "TxLog.unsetProperties: empty key list")
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    if (!keys.exists(propsOf(manifest(spark, path, v)).contains)) return v
    commitConstraints(spark, path,
      update = { m =>
        (m.constraints.filterNot { case (n, _) =>
          n.startsWith(PropPrefix) && keys.contains(n.stripPrefix(PropPrefix)) },
          m.uniques)
      },
      operation = s"UNSET TBLPROPERTIES (${keys.sorted.mkString(", ")})",
      revalidate = _ => ())
  }

  private[graft] def isAppendOnly(m: Manifest): Boolean =
    propsOf(m).get(AppendOnlyProp).exists(_.equalsIgnoreCase("true"))

  private[graft] def dvDeclared(m: Manifest): Boolean =
    propsOf(m).get(DeletionVectorsProp).exists(_.equalsIgnoreCase("true"))

  /** The [[AppendOnlyProp]] gate every row-removing verb calls. */
  private def requireAppendable(m: Manifest, path: String,
                                verb: String): Unit =
    if (isAppendOnly(m))
      throw new UnsupportedOperationException(
        s"TxLog: $verb on $path is refused — table property " +
          s"$AppendOnlyProp=true protects committed rows. " +
          s"UNSET TBLPROPERTIES ('$AppendOnlyProp') first.")

  /** Column → DEFAULT expression (SQL over literals/functions only). */
  private[graft] def columnDefaults(m: Manifest): Map[String, String] =
    m.constraints.collect { case (n, e) if n.startsWith(DefaultPrefix) =>
      n.stripPrefix(DefaultPrefix) -> e }.toMap

  /** Column → GENERATED AS expression (SQL over the other columns). */
  private[graft] def generatedColumns(m: Manifest): Map[String, String] =
    m.constraints.collect { case (n, e) if n.startsWith(GeneratedPrefix) =>
      n.stripPrefix(GeneratedPrefix) -> e }.toMap

  /** Fill the INSERT-shaped batch's omitted policy columns: a missing
    * GENERATED column computes from its expression, a missing DEFAULT
    * column fills with its default — then reorder to declared order so
    * the exact-match schema gate passes. Provided columns pass through
    * untouched (the generated invariant below vets them). */
  private def fillPolicyColumns(df: DataFrame, m: Manifest,
                                declared: StructType): DataFrame = {
    val defs = columnDefaults(m)
    val gens = generatedColumns(m)
    if (defs.isEmpty && gens.isEmpty) return df
    import org.apache.spark.sql.functions.{col, expr}
    val missing = declared.fields.filter(f =>
      !df.columns.contains(f.name) &&
        (gens.contains(f.name) || defs.contains(f.name)))
    if (missing.isEmpty) return df
    val filled = missing.foldLeft(df)((d, f) =>
      d.withColumn(f.name,
        expr(gens.getOrElse(f.name, defs(f.name))).cast(f.dataType)))
    // reorder to declared order but KEEP unknown extra columns (at the
    // end): the subsequent checkSchema must refuse them exactly as it
    // does when no policy column was omitted — silently dropping them
    // here would bypass that gate (ADVICE r13, low)
    val unknown = filled.columns.filterNot(declared.fieldNames.contains)
    filled.select((declared.fieldNames.filter(filled.columns.contains) ++
      unknown).map(col).toIndexedSeq: _*)
  }

  /** Allocate IDENTITY values for an INSERT-shaped batch: each
    * identity column fills DENSELY from the manifest's high-water
    * mark — row i takes `next + step*i` — and the returned claims
    * (column → (expected mark, new mark)) ride the commit so
    * [[commitRebase]] can detect a racing allocation. The assignment
    * is distributed and shuffle-free: `zipWithIndex` is two narrow
    * passes (a per-partition count job, then the indexed map), never a
    * single-partition row_number. GENERATED ALWAYS: a provided column
    * with any non-null value refuses loudly; an ALL-NULL provided
    * column counts as omitted (the SQL door resolves an omitted
    * identity column to NULL literals via its DEFAULT metadata). */
  private def fillIdentityColumns(df: DataFrame, m: Manifest, op: String)
      : (DataFrame, Map[String, (Long, Long)]) = {
    val ids = identityColumns(m)
    if (ids.isEmpty) return (df, Map.empty)
    import org.apache.spark.sql.functions.col
    val provided = ids.keySet.intersect(df.columns.toSet)
    provided.foreach { c =>
      require(df.filter(col(c).isNotNull).limit(1).collect().isEmpty,
        s"TxLog.$op: column '$c' is GENERATED ALWAYS AS IDENTITY — " +
          "explicit values are refused (the engine assigns them)")
    }
    val bare = df.drop(provided.toSeq: _*)
    // dense row index WITHOUT leaving the DataFrame engine (an RDD
    // zipWithIndex measured 1.7x a plain append at 6M rows — the Row
    // round-trip, not the passes): monotonically_increasing_id encodes
    // (partitionId << 33 | rowInPartition), so one count pass keyed by
    // the encoded partition id yields per-partition offsets (a bounded
    // driver map — one entry per task), and the write pass computes
    // offset + rowInPartition as pure codegen'd projection. Same
    // two-pass stability assumption as zipWithIndex: partition COUNTS
    // must agree between the passes (deterministic plans do).
    import org.apache.spark.sql.functions.{element_at, lit => flit,
      monotonically_increasing_id, shiftright, typedlit}
    val withMono = bare.withColumn("_graft_mono",
      monotonically_increasing_id())
    val counts = withMono
      .groupBy(shiftright(col("_graft_mono"), 33).as("_pid"))
      .count().collect().map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1)
    val n = counts.map(_._2).sum
    val offsets: Map[Long, Long] = {
      var acc = 0L
      counts.map { case (pid, c) =>
        val off = acc; acc += c; pid -> off
      }.toMap
    }
    val rowIdx =
      element_at(typedlit(offsets), shiftright(col("_graft_mono"), 33)) +
        col("_graft_mono").bitwiseAND(flit((1L << 33) - 1))
    val idCols = ids.keys.toSeq.sorted
    // NULLABLE on purpose: a non-nullable field here would leak into
    // any path that derives table DDL from the written frame
    // (createOrReplace), and an `id BIGINT NOT NULL` table column
    // breaks Spark's own omitted-identity-column INSERT resolution
    // (it fills a NULL literal the engine then replaces)
    val filled = idCols.foldLeft(withMono) { (d, c) =>
      d.withColumn(c,
        (flit(ids(c)._2) + flit(ids(c)._1) * rowIdx).cast("bigint"))
    }.drop("_graft_mono")
    (filled, ids.map { case (c, (step, next)) =>
      c -> (next, next + step * n) })
  }

  /** The binding form of each constraint entry: user CHECKs bind as
    * written; a GENERATED entry binds as the null-tolerant invariant
    * `c IS NULL OR c <=> (expr)` (rows written before the column
    * existed read as null — a metadata-only ADD never backfills);
    * DEFAULT entries never bind (they only fill omitted columns). */
  private def bindingConstraints(constraints: Seq[(String, String)])
      : Seq[(String, String)] =
    constraints.flatMap {
      case (n, _) if n.startsWith(DefaultPrefix) => None
      case (n, _) if n.startsWith(IdentityPrefix) => None
      case (n, _) if n.startsWith(PropPrefix) => None // properties never bind rows
      case (n, e) if n.startsWith(GeneratedPrefix) =>
        val c = n.stripPrefix(GeneratedPrefix)
        Some(n -> s"($c IS NULL) OR ($c <=> ($e))")
      case other => Some(other)
    }

  private def enforceConstraints(df: DataFrame,
                                 constraints0: Seq[(String, String)],
                                 op: String): Unit = {
    val constraints = bindingConstraints(constraints0)
    if (constraints.isEmpty) return
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, struct}
    val flags = constraints.zipWithIndex.map { case ((_, c), i) =>
      not(coalesce(expr(c), lit(true))).as(s"_viol_$i")
    }
    val anyViol = flags.indices
      .map(i => org.apache.spark.sql.functions.col(s"_viol_$i"))
      .reduce(_ || _)
    val hit = df
      .select(struct(df.columns.map(org.apache.spark.sql.functions.col)
        .toIndexedSeq: _*).as("_row") +: flags: _*)
      .filter(anyViol).limit(1).collect()
    hit.headOption.foreach { r =>
      val failed = constraints.zipWithIndex.collect {
        case ((n, c), i) if r.getBoolean(i + 1) => s"$n CHECK ($c)"
      }
      val row = r.getStruct(0).toString.take(300)
      throw new ConstraintViolationException(
        s"TxLog: $op violates constraint${if (failed.size > 1) "s" else ""} " +
          s"${failed.mkString("; ")} — first violating row: $row. " +
          "Nothing was committed.")
    }
  }

  /** The row-level CHECK-violation REASON under `constraints`: null
    * for a passing row, `check:<name>` of the FIRST violated
    * constraint otherwise — the same `coalesce(check, true) = false`
    * rule [[enforceConstraints]] probes with, exposed as a column so
    * ingest paths can ROUTE violating rows (quarantine) instead of
    * refusing whole batches. */
  def constraintViolationReason(constraints: Seq[(String, String)])
      : org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{coalesce, expr, lit, not, when}
    bindingConstraints(constraints)
      .foldLeft(lit(null).cast("string")) { case (acc, (n, c)) =>
        coalesce(acc, when(not(coalesce(expr(c), lit(true))), lit(s"check:$n")))
      }
  }

  /** The CHECK constraints in force at `version` (default: head) as
    * (name, check) pairs, declaration order. */
  def constraintsOf(spark: SparkSession, path: String,
                    version: Option[Long] = None): Seq[(String, String)] = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    manifest(spark, path, v).constraints
  }

  /** Commit a METADATA-ONLY version that transforms the constraint
    * set: a delta with no file changes. OCC like any commit — on a
    * lost race the caller-supplied `revalidate` runs against the NEW
    * head before retrying (an interleaved append could have landed
    * rows the new constraint must vet), so the published guarantee
    * ("every row of every version ≥ this one satisfies the set") holds
    * under races too. */
  private def commitConstraints(spark: SparkSession, path: String,
                                update: Manifest => (Seq[(String, String)],
                                                     Seq[(String, Seq[String])]),
                                revalidate: Manifest => Unit,
                                operation: String,
                                maxRetries: Int = 10,
                                minWriterFloor: Int = 0): Long = {
    var retries = 0
    while (true) {
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val attempt = manifest(spark, path, v)
      requireWritable(attempt, path)
      revalidate(attempt)
      val (nextChecks, nextUniques) = update(attempt)
      // the first constraint RAISES the writer gate to generation 2:
      // a future generation-1 build must refuse to append un-vetted
      // rows rather than silently admit violations (ADVICE r8, medium).
      // Never lowered — dropping the last constraint keeps the gate.
      // Free-form PROPERTY entries don't count: they vet nothing, and
      // any generation carries the channel forward verbatim (the
      // enforced switch raises its own floor via [[setProperties]]).
      val nextMinWriter = math.max(minWriterFloor,
        if (nextChecks.exists(!_._1.startsWith(PropPrefix)) ||
            nextUniques.nonEmpty)
          math.max(attempt.minWriter, 2)
        else attempt.minWriter)
      try {
        val ts = clampedTs(attempt)
        writeDelta(spark, path, attempt.version + 1, attempt.partitionCols,
          attempt.schemaDdl, attempt.sourceBatchId, attempt.statsCols,
          nextChecks, nextUniques, operation,
          removeDirs = Set.empty, addFiles = Nil,
          addStats = Map.empty, addRows = Map.empty,
          addNulls = Map.empty, ts = ts, minWriter = nextMinWriter, txns = attempt.txns,
          colMap = attempt.colMap,
          dv = attempt.dv, partitionSpec = attempt.partitionSpec)
        val resolved = attempt.copy(version = attempt.version + 1,
          constraints = nextChecks, uniques = nextUniques,
          ts = Some(ts), minWriter = nextMinWriter)
        cachePut(spark, path, resolved)
        maybeCheckpoint(spark, path, resolved)
        return resolved.version
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
        // loop: re-read the head, re-validate, retry
      }
    }
    -1L // unreachable
  }

  /** ALTER TABLE ... ADD CONSTRAINT name CHECK (expr) — from this
    * version on, every data-adding commit ([[append]],
    * [[appendBatch]]/the streaming sink, [[mergeInto]],
    * [[replacePartitions]], [[applyChanges]]) refuses rows for which
    * `check` evaluates to FALSE (NULL passes — SQL CHECK semantics).
    * EXISTING data must already satisfy the constraint, exactly like
    * Delta: the add itself scans the current snapshot once and refuses
    * if any live row fails. Enforcement travels with the table —
    * constraints persist in every commit's metadata, survive
    * checkpoints, ride [[clone]], and [[restore]] reverts them to the
    * target version's set (a restore is a full table-STATE rollback,
    * constraints included). Returns the committed metadata version. */
  def addConstraint(spark: SparkSession, path: String, name: String,
                    check: String): Long = {
    require(name.nonEmpty && name.forall(ch => ch.isLetterOrDigit || ch == '_'),
      s"TxLog.addConstraint: constraint name must be [A-Za-z0-9_]+, got '$name'")
    require(!name.startsWith("__"),
      s"TxLog.addConstraint: names starting with '__' are reserved for " +
        "column policies (DEFAULT/GENERATED)")
    commitConstraints(spark, path,
      update = { m =>
        require(!m.constraints.exists(_._1 == name) &&
            !m.uniques.exists(_._1 == name),
          s"TxLog.addConstraint: constraint '$name' already exists on $path")
        (m.constraints :+ (name -> check), m.uniques)
      },
      operation = s"ADD CONSTRAINT $name",
      revalidate = { m =>
        val snap = read(spark, path, Some(m.version))
        // the expression must resolve against the declared schema and
        // be boolean — analysis here fails fast with Spark's own error
        val analyzed = org.apache.spark.sql.classic.ClassicConversions
          .castToImpl(snap.select(org.apache.spark.sql.functions.expr(check)))
          .queryExecution.analyzed
        val t = analyzed.schema.head.dataType
        require(t == org.apache.spark.sql.types.BooleanType,
          s"TxLog.addConstraint: CHECK must be a boolean expression, " +
            s"'$check' is $t")
        // a nondeterministic CHECK (rand(), shuffle(), uuid()) would
        // pass the add-time probe and then arbitrarily refuse or admit
        // the same rows later — meaningless as a table invariant
        require(analyzed.expressions.forall(_.deterministic),
          s"TxLog.addConstraint: CHECK must be deterministic, '$check' is not")
        enforceConstraints(snap, Seq(name -> check),
          s"ADD CONSTRAINT $name: existing data at v${m.version}")
      })
  }

  /** ALTER TABLE ... DROP CONSTRAINT name — CHECK or UNIQUE, looked up
    * by name. Time travel still sees the constraint on historical
    * versions' metadata; it simply stops binding future commits. */
  def dropConstraint(spark: SparkSession, path: String, name: String): Long = {
    require(!name.startsWith("__"),
      "TxLog.dropConstraint: reserved policy entries are managed by " +
        "dropColumnDefault / dropColumn, not DROP CONSTRAINT")
    commitConstraints(spark, path,
      update = { m =>
        val known = m.constraints.map(_._1).filterNot(_.startsWith("__")) ++
          m.uniques.map(_._1)
        require(known.contains(name),
          s"TxLog.dropConstraint: no constraint '$name' on $path " +
            s"(have: ${if (known.isEmpty) "none" else known.mkString(", ")})")
        (m.constraints.filterNot(_._1 == name),
          m.uniques.filterNot(_._1 == name))
      },
      operation = s"DROP CONSTRAINT $name",
      revalidate = _ => ())
  }

  /** A policy expression must ANALYZE (against the table's columns for
    * GENERATED, against nothing for DEFAULT — standard SQL: a default
    * sees literals and functions only) and be deterministic (a
    * rand()-default would make replayed idempotent batches diverge). */
  private def validatePolicyExpr(spark: SparkSession, m: Manifest,
                                 what: String, e: String,
                                 overColumns: Boolean): Unit = {
    val base =
      if (overColumns)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType.fromDDL(m.schemaDdl))
      else spark.range(1).select()
    val analyzed = org.apache.spark.sql.classic.ClassicConversions
      .castToImpl(base.select(org.apache.spark.sql.functions.expr(e)))
      .queryExecution.analyzed
    require(analyzed.expressions.forall(_.deterministic),
      s"TxLog: $what must be deterministic, '$e' is not")
  }

  /** ALTER TABLE ... ALTER COLUMN col SET DEFAULT expr — from this
    * version on, INSERT-shaped writes (the append family, INSERT INTO
    * through the V2 catalog, the streaming sink) that OMIT the column
    * fill it with `expr` cast to the column type. Metadata-only;
    * existing rows are untouched (standard SQL DEFAULT binds at write,
    * never at read). The entry rides the constraint channel under the
    * reserved `__default__` name, so it persists in every commit,
    * survives checkpoints and clone, and restore reverts it with the
    * rest of the table state. */
  def setColumnDefault(spark: SparkSession, path: String, colName: String,
                       default: String): Long =
    commitConstraints(spark, path,
      update = { m =>
        val declared = StructType.fromDDL(m.schemaDdl)
        require(declared.fieldNames.contains(colName),
          s"TxLog.setColumnDefault: no column '$colName' in ${m.schemaDdl}")
        require(!generatedColumns(m).contains(colName),
          s"TxLog.setColumnDefault: '$colName' is GENERATED — its value " +
            "always computes from the generation expression")
        require(!identityColumns(m).contains(colName),
          s"TxLog.setColumnDefault: '$colName' is GENERATED ALWAYS AS " +
            "IDENTITY — the engine assigns it; a DEFAULT would fill an " +
            "explicit value the identity gate then refuses")
        (m.constraints.filterNot(_._1 == DefaultPrefix + colName) :+
          (DefaultPrefix + colName -> default), m.uniques)
      },
      operation = s"ALTER COLUMN $colName SET DEFAULT $default",
      revalidate = m => validatePolicyExpr(spark, m,
        s"DEFAULT for '$colName'", default, overColumns = false))

  /** ALTER TABLE ... ALTER COLUMN col DROP DEFAULT. */
  def dropColumnDefault(spark: SparkSession, path: String,
                        colName: String): Long =
    commitConstraints(spark, path,
      update = { m =>
        require(columnDefaults(m).contains(colName),
          s"TxLog.dropColumnDefault: no DEFAULT on '$colName' " +
            s"(have: ${columnDefaults(m).keys.toSeq.sorted.mkString(", ") match {
              case "" => "none"; case x => x }})")
        (m.constraints.filterNot(_._1 == DefaultPrefix + colName), m.uniques)
      },
      operation = s"ALTER COLUMN $colName DROP DEFAULT",
      revalidate = _ => ())

  /** The column policies in force at the head: (column, kind, expr)
    * with kind ∈ {default, generated}. */
  def columnPolicies(spark: SparkSession, path: String): Seq[(String, String, String)] = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    columnDefaults(m).toSeq.sorted.map { case (c, e) => (c, "default", e) } ++
      generatedColumns(m).toSeq.sorted.map { case (c, e) => (c, "generated", e) } ++
      identityColumns(m).toSeq.sortBy(_._1).map { case (c, (step, next)) =>
        (c, "identity", s"step=$step next=$next") }
  }

  /** Declare `colName` GENERATED ALWAYS AS IDENTITY: from this version
    * on the column is ENGINE-ASSIGNED — every INSERT-shaped commit
    * ([[append]], [[appendBatch]], [[appendTxn]], [[mergeWhen]]'s
    * INSERT clause) fills it densely from a per-table high-water mark
    * carried in the manifest, and EXPLICIT values refuse loudly
    * (Delta's GENERATED ALWAYS contract; an all-null provided column
    * counts as omitted — the SQL door's filled-omission shape).
    * Allocation is OCC-safe: the mark advances inside the same commit
    * as the data, a racing allocation surfaces in the rebase loop, and
    * the append family re-fills from the new head — two concurrent
    * appends always land DISJOINT ranges (the reference's
    * `study.id` surrogate-key shape, R/gwas_ddl.sql `study` table).
    * On a non-empty table the mark ADOPTS existing values (max + step
    * for a positive step) so future ids never collide. Declaring
    * identity raises the writer gate to generation 4. Requires BIGINT;
    * refuses layout columns (engine-assigned values must not choose
    * directories), NULLs in existing rows, and columns already under a
    * DEFAULT/GENERATED policy. */
  def setColumnIdentity(spark: SparkSession, path: String, colName: String,
                        start: Long = 1L, step: Long = 1L): Long = {
    require(step != 0L, "TxLog.setColumnIdentity: step must be non-zero")
    commitConstraints(spark, path,
      update = { m =>
        val declared = StructType.fromDDL(m.schemaDdl)
        val f = declared.fields.find(_.name == colName).getOrElse(
          throw new IllegalArgumentException(
            s"TxLog.setColumnIdentity: no column '$colName' " +
              s"(have ${declared.fieldNames.mkString(", ")})"))
        require(f.dataType == org.apache.spark.sql.types.LongType,
          s"TxLog.setColumnIdentity: '$colName' must be BIGINT, " +
            s"is ${f.dataType.sql}")
        val layout = if (m.partitionSpec.isEmpty) m.partitionCols
                     else transformsOf(m).map(_.src)
        require(!layout.contains(colName),
          s"TxLog.setColumnIdentity: '$colName' is a layout column — " +
            "engine-assigned values must not choose directories")
        require(!m.constraints.exists(c =>
            c._1 == DefaultPrefix + colName ||
            c._1 == GeneratedPrefix + colName ||
            c._1 == IdentityPrefix + colName),
          s"TxLog.setColumnIdentity: '$colName' already carries a column policy")
        val next =
          if (m.files.isEmpty) start
          else {
            import org.apache.spark.sql.functions.{col, max, min}
            val snap = read(spark, path, Some(m.version))
            require(snap.filter(col(colName).isNull).limit(1).collect().isEmpty,
              s"TxLog.setColumnIdentity: existing rows hold NULL " +
                s"'$colName' — backfill first")
            val agg = snap.agg(max(col(colName)), min(col(colName))).head()
            if (agg.isNullAt(0)) start // files exist but hold zero rows
            else if (step > 0) math.max(start, agg.getLong(0) + step)
            else math.min(start, agg.getLong(1) + step)
          }
        (m.constraints :+ (IdentityPrefix + colName -> s"$step:$next"),
          m.uniques)
      },
      operation = s"SET IDENTITY $colName",
      revalidate = _ => (),
      minWriterFloor = 4)
  }

  /** ALTER TABLE ... ADD CONSTRAINT name UNIQUE (cols) — the write-time
    * PRIMARY-KEY gate the reference's Postgres schema enforces on
    * insert (gwas_ddl.sql:42-64: `gwas` is PK (kgp_id, study_id)) and
    * an audit-after-load lake does not. From this version on the
    * INSERT-shaped commits ([[append]], [[appendBatch]]/streaming
    * sink, [[replacePartitions]]) refuse a batch that repeats a key
    * within itself OR collides with a key already in the table.
    *
    * Cost model is the honest difference from CHECK: the within-batch
    * probe is one batch aggregation, but the vs-table probe is a
    * LEFT SEMI join of the table's key columns against the
    * (broadcast-sized) incoming keys — a key-column scan of the table
    * per commit (column-pruned; Parquet reads just the keys). Opt in
    * for dimension-shaped tables, exactly where PKs live. The
    * UPSERT-shaped commits ([[mergeInto]], [[applyChanges]]) enforce
    * only within-batch key uniqueness — when their merge keys equal
    * the unique columns they preserve uniqueness by construction
    * (update-in-place), and when they don't, write-time enforcement
    * would need the same table probe each retry; run [[graft.operators.Upsert.pkViolations]]
    * as the post-audit there. Existing data must already be unique —
    * the add itself probes the snapshot once and refuses if not. */
  def addUniqueConstraint(spark: SparkSession, path: String, name: String,
                          cols: Seq[String]): Long = {
    require(name.nonEmpty && name.forall(ch => ch.isLetterOrDigit || ch == '_'),
      s"TxLog.addUniqueConstraint: constraint name must be [A-Za-z0-9_]+, got '$name'")
    require(!name.startsWith("__"),
      "TxLog.addUniqueConstraint: names starting with '__' are reserved " +
        "for column policies (DEFAULT/GENERATED)")
    require(cols.nonEmpty, "TxLog.addUniqueConstraint: name at least one column")
    commitConstraints(spark, path,
      update = { m =>
        require(!m.constraints.exists(_._1 == name) &&
            !m.uniques.exists(_._1 == name),
          s"TxLog.addUniqueConstraint: constraint '$name' already exists on $path")
        (m.constraints, m.uniques :+ (name -> cols))
      },
      operation = s"ADD UNIQUE $name",
      revalidate = { m =>
        val declared = StructType.fromDDL(m.schemaDdl).fieldNames.toSet
        cols.foreach(c => require(declared.contains(c),
          s"TxLog.addUniqueConstraint: column '$c' is not in the table schema"))
        val snap = read(spark, path, Some(m.version))
        val nullKey = snap.filter(cols.map(
          org.apache.spark.sql.functions.col(_).isNull).reduce(_ || _))
          .limit(1).collect()
        if (nullKey.nonEmpty)
          throw new ConstraintViolationException(
            s"TxLog: ADD UNIQUE $name(${cols.mkString(", ")}): existing data " +
              s"at v${m.version} holds a NULL key (PRIMARY-KEY semantics " +
              s"require non-null): ${nullKey.head.toString.take(200)}. " +
              "Nothing was committed.")
        val dup = graft.operators.Upsert.pkViolations(snap, cols)
          .limit(1).collect()
        if (dup.nonEmpty)
          throw new ConstraintViolationException(
            s"TxLog: ADD UNIQUE $name(${cols.mkString(", ")}): existing data " +
              s"at v${m.version} repeats key ${dup.head.toString.take(200)} — " +
              "deduplicate first. Nothing was committed.")
      })
  }

  /** The UNIQUE constraints in force at `version` (default: head). */
  def uniquesOf(spark: SparkSession, path: String,
                version: Option[Long] = None): Seq[(String, Seq[String])] = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    manifest(spark, path, v).uniques
  }

  /** INSERT-shaped enforcement of the UNIQUE set: the incoming batch
    * must not repeat a key internally nor collide with the table rows
    * that SURVIVE this commit, planned as `existingFiles` (the current
    * snapshot's entries, minus whatever the commit replaces). Runs
    * BEFORE [[stageIn]] — a refused commit stages nothing.
    *
    * The vs-table probe is FILE-PRUNED when the key column rides the
    * skip index: one tiny aggregate takes the batch's key bounds, and
    * only files whose min/max admit that range are scanned at all —
    * on a key-clustered dimension table the per-insert probe reads a
    * few files, not the table (ScaleCheckGov at commit 2375eab
    * measured it flat from a 0.6M- to a 6M-row table). The
    * semi-join carries no broadcast hint: AQE broadcasts a small batch
    * side on its own, and a 10^6-key bulk load must NOT be forced
    * driver-side (ADVICE r8, low).
    *
    * `batchChecked = true` skips the batch-side probes (null-key,
    * within-batch) — the rebase-revalidation path re-probes only
    * against files that LANDED since the base snapshot. */
  private def enforceUniques(df: DataFrame, spark: SparkSession, path: String,
                             schema: StructType, existingFiles: Seq[String],
                             m: Manifest, op: String,
                             batchChecked: Boolean = false): Unit = {
    if (m.uniques.isEmpty) return
    import org.apache.spark.sql.functions.col
    m.uniques.foreach { case (name, cols) =>
      cols.foreach(c =>
        if (!df.columns.contains(c))
          throw new ConstraintViolationException(
            s"TxLog: $op omits UNIQUE $name key column '$c' — every key " +
              "column must be present and non-null. Nothing was committed."))
      if (!batchChecked) {
        // PRIMARY KEY semantics, not bare SQL UNIQUE: a NULL key is
        // refused outright. SQL's "null is not comparable" would make
        // the gate asymmetric here — the in-batch groupBy probe lumps
        // nulls together while the vs-table join can never match them —
        // so nullable keys would be half-checked; the reference's PK
        // columns are NOT NULL anyway (gwas_ddl.sql)
        val nullKey = df.filter(cols.map(col(_).isNull).reduce(_ || _))
          .limit(1).collect()
        if (nullKey.nonEmpty)
          throw new ConstraintViolationException(
            s"TxLog: $op carries a NULL key for UNIQUE $name" +
              s"(${cols.mkString(", ")}) — unique keys are PRIMARY-KEY " +
              s"semantics, non-null: ${nullKey.head.toString.take(200)}. " +
              "Nothing was committed.")
        val inBatch = graft.operators.Upsert.pkViolations(df, cols)
          .limit(1).collect()
        if (inBatch.nonEmpty)
          throw new ConstraintViolationException(
            s"TxLog: $op repeats UNIQUE $name(${cols.mkString(", ")}) key " +
              s"within the batch: ${inBatch.head.toString.take(200)}. " +
              "Nothing was committed.")
      }
      if (existingFiles.nonEmpty) {
        val candidates = keyBoundCols(m, schema, cols) match {
          case None => existingFiles
          case Some(cs) => boundsAt(cols, df.agg(cs.head, cs.tail: _*).head(), 0) match {
            case None => Nil // empty batch: nothing can collide
            case Some((k, lo, hi)) => pruneByRange(m, schema, existingFiles,
              k, lo, hi, spark.sessionState.conf.sessionLocalTimeZone)
          }
        }
        if (candidates.nonEmpty) {
          val collide = readFiles(spark, path, m, candidates)
            .select(cols.map(col): _*)
            .join(df.select(cols.map(col): _*).distinct(), cols, "left_semi")
            .limit(1).collect()
          if (collide.nonEmpty)
            throw new ConstraintViolationException(
              s"TxLog: $op violates UNIQUE $name(${cols.mkString(", ")}) — key " +
                s"${collide.head.toString.take(200)} already exists in the table. " +
                "Nothing was committed.")
        }
      }
    }
  }

  /** The UPSERT-shaped commits preserve a UNIQUE constraint by
    * construction ONLY when their merge keys cover its columns
    * (update-in-place); a merge on a narrower key can INSERT a row
    * whose unique key already exists elsewhere. Write-time
    * enforcement there would re-pay the table probe on every rebase
    * retry, so the documented trade stands — but the dangerous
    * configuration is now flagged LOUDLY at call time instead of only
    * in scaladoc (ADVICE r8, low): run
    * [[graft.operators.Upsert.pkViolations]] as the post-audit. */
  private def warnUncoveredUniques(m: Manifest, mergeKeys: Seq[String],
                                   op: String): Unit = {
    val keySet = mergeKeys.toSet
    m.uniques.filterNot { case (_, cols) => cols.toSet.subsetOf(keySet) }
      .foreach { case (name, cols) =>
        System.err.println(
          s"TxLog WARNING: $op merge keys (${mergeKeys.mkString(", ")}) do " +
            s"not cover UNIQUE $name(${cols.mkString(", ")}) — write-time " +
            "enforcement here is within-batch only, so an insert can " +
            "silently duplicate an existing unique key. Audit with " +
            s"Upsert.pkViolations(TxLog.read(...), Seq(${cols.map("\"" + _ + "\"").mkString(", ")})) " +
            "after the commit.")
      }
  }

  /** Change the tracked data-skipping column set WITHOUT recreating
    * the table — the gap a table created before its query patterns
    * were known hits: statsCols was fixed at [[create]] time. A
    * metadata-only commit swaps the declared set; files written from
    * then on carry min/max for the NEW set, files written before keep
    * their old entries (still valid — a superset never mis-prunes) and
    * read as "no stats" for newly tracked columns, which
    * [[prunedFiles]] treats as unprunable (conservative, never wrong).
    * To BACKFILL stats for existing files, run
    * `compact(minFilesToCompact = 1)` after this: the rewrite
    * re-collects stats under the new set. Columns must exist in the
    * declared schema. */
  def setStatsCols(spark: SparkSession, path: String,
                   cols: Seq[String], maxRetries: Int = 10): Long = {
    var retries = 0
    while (true) {
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val attempt = manifest(spark, path, v)
      requireWritable(attempt, path)
      val declared = StructType.fromDDL(attempt.schemaDdl).fieldNames.toSet
      cols.foreach(c => require(declared.contains(c),
        s"TxLog.setStatsCols: column '$c' is not in the table schema " +
          s"(${declared.toSeq.sorted.mkString(", ")})"))
      // stored PHYSICAL (the key the files' stats entries use)
      val physCols = cols.map(c => physOf(attempt, c))
      try {
        val ts = clampedTs(attempt)
        writeDelta(spark, path, attempt.version + 1, attempt.partitionCols,
          attempt.schemaDdl, attempt.sourceBatchId, physCols, attempt.constraints,
          attempt.uniques, operation = s"SET STATS COLS ${cols.mkString(", ")}",
          removeDirs = Set.empty, addFiles = Nil, addStats = Map.empty,
          addRows = Map.empty, addNulls = Map.empty, ts = ts, minWriter = attempt.minWriter,
          txns = attempt.txns, colMap = attempt.colMap, dv = attempt.dv,
          partitionSpec = attempt.partitionSpec)
        // cols = Nil disables skipping: drop the entries exactly like
        // applyDelta's replay of this commit would
        val resolved = attempt.copy(version = attempt.version + 1,
          statsCols = physCols,
          fileStats = if (cols.isEmpty) Map.empty else attempt.fileStats,
          fileNulls = if (cols.isEmpty) Map.empty else attempt.fileNulls,
          ts = Some(ts))
        cachePut(spark, path, resolved)
        maybeCheckpoint(spark, path, resolved)
        return resolved.version
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
        // loop: re-read the head and retry
      }
    }
    -1L // unreachable
  }

  /** ALTER TABLE ... RENAME COLUMN old TO new — a METADATA-ONLY commit
    * via column mapping (Delta's name-mapping mode): the files keep
    * spelling the column's original PHYSICAL name forever; the
    * manifest records (newLogical -> physical) and every read aliases
    * back. Zero data rewrites at any table size. Version-pinned reads
    * of OLDER versions keep their own names (each version carries its
    * own schema + mapping), and [[changes]] matches rows across the
    * rename by physical identity — zero spurious updates.
    *
    * Commits from the rename onward are PROTOCOL 2: a pre-mapping
    * reader would resolve files fine but surface physical names —
    * silently wrong results for queries naming the renamed column —
    * so it must refuse instead (the same reader-gating Delta applies
    * to column mapping). Renaming a column referenced by a CHECK
    * constraint refuses (the expression text would dangle); UNIQUE
    * column lists and the partition layout follow the rename. */
  def renameColumn(spark: SparkSession, path: String,
                   oldName: String, newName: String,
                   maxRetries: Int = 10): Long = {
    require(oldName != newName, "TxLog.renameColumn: names are identical")
    var retries = 0
    while (true) {
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val attempt = manifest(spark, path, v)
      requireWritable(attempt, path)
      val declared = StructType.fromDDL(attempt.schemaDdl)
      require(declared.fieldNames.contains(oldName),
        s"TxLog.renameColumn: no column '$oldName' in ${attempt.schemaDdl}")
      require(!declared.fieldNames.contains(newName),
        s"TxLog.renameColumn: column '$newName' already exists")
      require(!(cdfDeclared(attempt) && CdfReservedCols.contains(newName)),
        s"TxLog.renameColumn: '$newName' is reserved by the declared " +
          s"change feed ($ChangeDataFeedProp=true)")
      require(!columnDefaults(attempt).contains(oldName) &&
          !generatedColumns(attempt).contains(oldName) &&
          !identityColumns(attempt).contains(oldName),
        s"TxLog.renameColumn: '$oldName' carries a DEFAULT/GENERATED/" +
          "IDENTITY policy — drop it first, rename, re-add against the " +
          "new name")
      val word = ("\\b" + java.util.regex.Pattern.quote(oldName) + "\\b").r
      // property VALUES are opaque strings, never SQL over columns —
      // a prop mentioning the column name must not block the rename
      attempt.constraints
        .filterNot(_._1.startsWith(PropPrefix)).foreach { case (n, check) =>
        require(word.findFirstIn(check).isEmpty,
          s"TxLog.renameColumn: CHECK constraint '$n' ($check) references " +
            s"'$oldName' — drop it first, rename, re-add against the new name")
      }
      // a hidden partition transform derives directories from its
      // source column BY NAME (the spec text is the manifest contract)
      transformsOf(attempt).foreach(t => require(t.src != oldName,
        s"TxLog.renameColumn: '$oldName' is the source of hidden " +
          s"partition transform ${t.spec} — the layout derives from it"))
      val newSchema = StructType(declared.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      // physical anchor: whatever the files ALREADY spell for oldName
      val phys = physOf(attempt, oldName)
      val newColMap = attempt.colMap.filterNot(_._1 == oldName) ++
        (if (phys == newName) Nil else Seq(newName -> phys))
      val newUniques = attempt.uniques.map { case (n, cols) =>
        n -> cols.map(c => if (c == oldName) newName else c)
      }
      // declared COLUMN-LIST properties follow the rename like uniques
      // do — a stale graft.zorderCols/bloomCols after RENAME would
      // refuse (zorder) or warn-per-commit (bloom) until re-declared
      val newConstraints = attempt.constraints.map {
        case (n, csv) if n == PropPrefix + ZorderColsProp ||
            n == PropPrefix + BloomColsProp =>
          n -> csv.split(",").map(_.trim)
            .map(c => if (c == oldName) newName else c).mkString(",")
        case other => other
      }
      val newPartCols = attempt.partitionCols.map(c =>
        if (c == oldName) newName else c)
      val nextMinWriter = math.max(attempt.minWriter, 2)
      try {
        val ts = clampedTs(attempt)
        writeDelta(spark, path, attempt.version + 1, newPartCols,
          newSchema.toDDL, attempt.sourceBatchId, attempt.statsCols,
          newConstraints, newUniques,
          operation = s"RENAME COLUMN $oldName TO $newName",
          removeDirs = Set.empty, addFiles = Nil, addStats = Map.empty,
          addRows = Map.empty, addNulls = Map.empty, ts = ts, minWriter = nextMinWriter,
          txns = attempt.txns, colMap = newColMap, dv = attempt.dv,
          partitionSpec = attempt.partitionSpec)
        val resolved = attempt.copy(version = attempt.version + 1,
          partitionCols = newPartCols, schemaDdl = newSchema.toDDL,
          constraints = newConstraints, uniques = newUniques,
          ts = Some(ts), minWriter = nextMinWriter,
          colMap = newColMap)
        cachePut(spark, path, resolved)
        maybeCheckpoint(spark, path, resolved)
        return resolved.version
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
        // loop: re-read the head and retry
      }
    }
    -1L // unreachable
  }

  /** A dropped column's colMap tombstone: its physical slot stays
    * reserved under a logical name no real column can spell (`#` is
    * not an identifier character), so a LATER column re-using the
    * name maps to a FRESH physical slot and never reads the dropped
    * data back (Delta requires column mapping for DROP COLUMN for
    * exactly this resurrection hazard). Every colMap consumer looks
    * entries up by LOGICAL name — schema fields, filter translation,
    * the read projection — so tombstones are inert everywhere except
    * the physical-slot collision checks, which is the point. */
  private val DroppedPrefix = "#dropped:"

  private def tombstoneOf(e: (String, String)): Option[String] =
    if (e._1.startsWith(DroppedPrefix)) Some(e._2) else None

  /** ALTER TABLE ... ADD COLUMN — a METADATA-ONLY commit: the schema
    * widens by one nullable field, historical files read NULL for it
    * (the parquet missing-column contract), later writes carry it.
    * Zero data rewrites at any table size.
    *
    * If the name's physical slot is already taken — by a renamed
    * column's original data or by a DROPPED column's remains — the
    * new column maps to a fresh physical name via column mapping, so
    * it starts life empty instead of resurrecting old bytes. */
  def addColumn(spark: SparkSession, path: String,
                name: String, ddlType: String,
                maxRetries: Int = 10,
                generatedAs: Option[String] = None,
                default: Option[String] = None): Long = {
    val dataType = org.apache.spark.sql.types.DataType.fromDDL(ddlType)
    require(generatedAs.isEmpty || default.isEmpty,
      "TxLog.addColumn: a column is GENERATED or has a DEFAULT, not both")
    var retries = 0
    while (true) {
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val attempt = manifest(spark, path, v)
      requireWritable(attempt, path)
      val declared = StructType.fromDDL(attempt.schemaDdl)
      require(!declared.fieldNames.contains(name),
        s"TxLog.addColumn: column '$name' already exists")
      // GENERATED AS expressions see the OTHER columns (computed per
      // row on omission, vetted when provided); DEFAULTs see none
      // (standard SQL: literals and deterministic functions only)
      generatedAs.foreach(e => validatePolicyExpr(spark, attempt,
        s"GENERATED AS for '$name'", e, overColumns = true))
      default.foreach(e => validatePolicyExpr(spark, attempt,
        s"DEFAULT for '$name'", e, overColumns = false))
      val policyEntry: Seq[(String, String)] =
        generatedAs.map(e => GeneratedPrefix + name -> e).toSeq ++
          default.map(e => DefaultPrefix + name -> e).toSeq
      require(!attempt.partitionCols.contains(name),
        s"TxLog.addColumn: '$name' collides with a partition directory name")
      require(!(cdfDeclared(attempt) && CdfReservedCols.contains(name)),
        s"TxLog.addColumn: '$name' is reserved by the declared change " +
          s"feed ($ChangeDataFeedProp=true)")
      // physical slots the files may already spell: every live
      // column's physical name plus every colMap target (renames AND
      // drop tombstones)
      val taken = physicalize(declared, attempt.colMap).fieldNames.toSet ++
        attempt.colMap.map(_._2)
      val phys =
        if (!taken.contains(name)) name
        else {
          var cand = s"${name}_v${attempt.version + 1}"
          var i = 0
          while (taken.contains(cand)) { i += 1; cand = s"${cand}_$i" }
          cand
        }
      val newSchema = StructType(declared.fields :+
        org.apache.spark.sql.types.StructField(name, dataType, nullable = true))
      val newColMap = attempt.colMap ++
        (if (phys == name) Nil else Seq(name -> phys))
      val newConstraints = attempt.constraints ++ policyEntry
      val nextMinWriter =
        if (newColMap == attempt.colMap && policyEntry.isEmpty)
          attempt.minWriter
        else math.max(attempt.minWriter, 2)
      try {
        val ts = clampedTs(attempt)
        writeDelta(spark, path, attempt.version + 1, attempt.partitionCols,
          newSchema.toDDL, attempt.sourceBatchId, attempt.statsCols,
          newConstraints, attempt.uniques,
          operation = s"ADD COLUMN $name $ddlType" +
            generatedAs.fold("")(e => s" GENERATED AS ($e)") +
            default.fold("")(e => s" DEFAULT $e"),
          removeDirs = Set.empty, addFiles = Nil, addStats = Map.empty,
          addRows = Map.empty, addNulls = Map.empty, ts = ts, minWriter = nextMinWriter,
          txns = attempt.txns, colMap = newColMap, dv = attempt.dv,
          partitionSpec = attempt.partitionSpec)
        val resolved = attempt.copy(version = attempt.version + 1,
          schemaDdl = newSchema.toDDL, ts = Some(ts),
          minWriter = nextMinWriter, colMap = newColMap,
          constraints = newConstraints)
        cachePut(spark, path, resolved)
        maybeCheckpoint(spark, path, resolved)
        return resolved.version
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
        // loop: re-read the head and retry
      }
    }
    -1L // unreachable
  }

  /** ALTER TABLE ... DROP COLUMN — a METADATA-ONLY commit via column
    * mapping: the field leaves the schema, the files keep its bytes,
    * and a tombstone entry reserves the physical slot so a later
    * column with the same name never reads the dropped data (see
    * [[DroppedPrefix]]). Version-pinned reads of OLDER versions still
    * surface the column (each version carries its own schema), and
    * the next OPTIMIZE rewrite physically purges the bytes (its
    * rewrite reads through the post-drop logical schema — Delta's
    * REORG ... PURGE in spirit).
    *
    * Refuses when the layout or a constraint depends on the column:
    * partition column, hidden-transform source, CHECK-referenced, or
    * part of a UNIQUE key — drop the constraint first. */
  def dropColumn(spark: SparkSession, path: String, name: String,
                 maxRetries: Int = 10): Long = {
    var retries = 0
    while (true) {
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val attempt = manifest(spark, path, v)
      requireWritable(attempt, path)
      val declared = StructType.fromDDL(attempt.schemaDdl)
      require(declared.fieldNames.contains(name),
        s"TxLog.dropColumn: no column '$name' in ${attempt.schemaDdl}")
      require(declared.fields.length > 1,
        s"TxLog.dropColumn: '$name' is the table's only column")
      require(!attempt.partitionCols.contains(name),
        s"TxLog.dropColumn: '$name' is a partition column — the layout " +
          "derives from it")
      transformsOf(attempt).foreach(t => require(t.src != name,
        s"TxLog.dropColumn: '$name' is the source of hidden partition " +
          s"transform ${t.spec} — the layout derives from it"))
      val word = ("\\b" + java.util.regex.Pattern.quote(name) + "\\b").r
      // the dropped column's OWN policy entries leave with it; other
      // columns' entries must not reference it
      val newConstraints = attempt.constraints.filterNot(c =>
        c._1 == DefaultPrefix + name || c._1 == GeneratedPrefix + name ||
        c._1 == IdentityPrefix + name)
      // property VALUES are opaque strings, never SQL over columns
      newConstraints
        .filterNot(_._1.startsWith(PropPrefix)).foreach { case (n, check) =>
        require(word.findFirstIn(check).isEmpty,
          s"TxLog.dropColumn: CHECK constraint '$n' ($check) references " +
            s"'$name' — drop the constraint first")
      }
      attempt.uniques.foreach { case (n, cols) =>
        require(!cols.contains(name),
          s"TxLog.dropColumn: UNIQUE constraint '$n' keys on '$name' — " +
            "drop the constraint first")
      }
      val phys = physOf(attempt, name)
      val newColMap = attempt.colMap.filterNot(_._1 == name) :+
        (DroppedPrefix + phys -> phys)
      val newSchema = StructType(declared.fields.filterNot(_.name == name))
      val newStats = attempt.statsCols.filterNot(_ == phys)
      val nextMinWriter = math.max(attempt.minWriter, 2)
      try {
        val ts = clampedTs(attempt)
        writeDelta(spark, path, attempt.version + 1, attempt.partitionCols,
          newSchema.toDDL, attempt.sourceBatchId, newStats,
          newConstraints, attempt.uniques,
          operation = s"DROP COLUMN $name",
          removeDirs = Set.empty, addFiles = Nil, addStats = Map.empty,
          addRows = Map.empty, addNulls = Map.empty, ts = ts, minWriter = nextMinWriter,
          txns = attempt.txns, colMap = newColMap, dv = attempt.dv,
          partitionSpec = attempt.partitionSpec)
        val resolved = attempt.copy(version = attempt.version + 1,
          schemaDdl = newSchema.toDDL, statsCols = newStats,
          constraints = newConstraints,
          // mirror applyDelta's replay: an emptied skip-column set
          // drops the per-file entries with it
          fileStats = if (newStats.isEmpty) Map.empty else attempt.fileStats,
          fileNulls = if (newStats.isEmpty) Map.empty else attempt.fileNulls,
          ts = Some(ts), minWriter = nextMinWriter, colMap = newColMap)
        cachePut(spark, path, resolved)
        maybeCheckpoint(spark, path, resolved)
        return resolved.version
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
        // loop: re-read the head and retry
      }
    }
    -1L // unreachable
  }

  /** The type-widening lattice — exactly the promotions Spark 4's
    * parquet readers (vectorized and row-based) perform when the
    * requested schema is wider than the file's physical type, so a
    * widened table needs ZERO data rewrites: historical int32 pages
    * read as LONG/DOUBLE, float pages as DOUBLE, decimals rescale.
    * Anything outside the lattice would throw "Parquet column cannot
    * be converted" on the first historical file — refused up front. */
  private def widensTo(from: org.apache.spark.sql.types.DataType,
                       to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      // decimal widening: never lose integral digits, never lose scale
      case (f: DecimalType, t: DecimalType) =>
        t.scale >= f.scale && t.precision - t.scale >= f.precision - f.scale
      case _ => false
    }
  }

  /** Widenings whose values render to the SAME string before and
    * after — the Bloom sidecars' hash key ([[keyHash]] hashes
    * `String.valueOf`; [[buildBloomIndex]] hashes a cast-to-string):
    * integral-family promotions ("3" stays "3") and same-scale
    * decimal widening. int→double turns "3" into "3.0" and
    * float→double changes the shortest-round-trip digits, so those
    * invalidate any existing sidecar. */
  private def stringStableWiden(from: org.apache.spark.sql.types.DataType,
                                to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType | ShortType | IntegerType,
            ShortType | IntegerType | LongType) => true
      case (f: DecimalType, t: DecimalType) => f.scale == t.scale
      case _ => false
    }
  }

  /** ALTER TABLE ... ALTER COLUMN ... TYPE — type WIDENING as a
    * METADATA-ONLY commit (Delta's type-widening table feature in
    * spirit): the declared schema re-types the column, every
    * historical file keeps its narrower physical encoding, and reads
    * are correct because the underlying parquet readers promote
    * narrower physical types to the requested wider one natively
    * (verified for this Spark build: int32→int64/double, float→double,
    * decimal precision/scale widening — with filter pushdown intact).
    * Only promotions in [[widensTo]] are accepted; narrowing or
    * cross-family retyping fails loudly. Version-pinned reads of older
    * versions keep their own (narrower) schema, and new appends must
    * arrive already widened ([[checkSchema]]'s exact-match contract —
    * same as Delta, cast at the edge).
    *
    * Skip-index entries survive: numeric stats serialize as plain
    * decimal strings and compare as BigDecimal (see [[statsEncode]]),
    * so an int-era file's "[3, 17]" still votes exactly under a LONG
    * or DOUBLE query bound — pruning loses nothing across the widen.
    *
    * Refuses on layout keys: an explicit partition column's values
    * re-parse from directory strings (a double rendering "3.0" would
    * no longer match its "3" dirs), and a hidden-transform source
    * column's `bucket(n, c)` votes hash the VALUE BYTES — int 3 and
    * long 3 hash differently, so old dir votes would mis-prune (lost
    * rows). Widen the data columns; the layout key keeps its type. */
  def alterColumnType(spark: SparkSession, path: String,
                      name: String, ddlType: String,
                      maxRetries: Int = 10): Long = {
    val newDt = org.apache.spark.sql.types.DataType.fromDDL(ddlType)
    var retries = 0
    while (true) {
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val attempt = manifest(spark, path, v)
      requireWritable(attempt, path)
      val declared = StructType.fromDDL(attempt.schemaDdl)
      require(declared.fieldNames.contains(name),
        s"TxLog.alterColumnType: no column '$name' in ${attempt.schemaDdl}")
      val oldDt = declared(name).dataType
      require(oldDt != newDt,
        s"TxLog.alterColumnType: '$name' is already ${newDt.sql}")
      require(widensTo(oldDt, newDt),
        s"TxLog.alterColumnType: ${oldDt.sql} -> ${newDt.sql} is not a " +
          "widening promotion the parquet readers perform in place — " +
          "historical files would fail to read; rewrite into a fresh " +
          "table to retype")
      require(!attempt.partitionCols.contains(name),
        s"TxLog.alterColumnType: '$name' is a partition column — its " +
          "values re-parse from directory names under the declared type; " +
          "widening would unmatch the existing directories")
      transformsOf(attempt).foreach(t => require(t.src != name,
        s"TxLog.alterColumnType: '$name' is the source of hidden " +
          s"partition transform ${t.spec} — transform votes hash the " +
          "value bytes, which change with the type"))
      // Bloom sidecars are hash-sensitive the same way the transform
      // votes are: they key on xxhash64 of the value's STRING
      // rendering, so a promotion that changes the rendering (int →
      // double probes "3.0" against a sidecar built from "3") turns
      // every probe into a false NEGATIVE — readByKey and merge
      // discovery would silently drop files holding matched keys.
      // String-stable promotions keep their index; anything else drops
      // the sidecar dir BEFORE the commit (a missing sidecar is
      // conservatively kept by every probe, and the next
      // buildBloomIndex call rebuilds under the widened rendering).
      if (!stringStableWiden(oldDt, newDt)) {
        val bd = bloomDir(path, physOf(attempt, name))
        val fsb = fsFor(spark, path)
        if (fsb.exists(bd)) fsb.delete(bd, true)
      }
      val newSchema = StructType(declared.fields.map(f =>
        if (f.name == name) f.copy(dataType = newDt) else f))
      try {
        val ts = clampedTs(attempt)
        writeDelta(spark, path, attempt.version + 1, attempt.partitionCols,
          newSchema.toDDL, attempt.sourceBatchId, attempt.statsCols,
          attempt.constraints, attempt.uniques,
          operation = s"ALTER COLUMN $name TYPE $ddlType",
          removeDirs = Set.empty, addFiles = Nil, addStats = Map.empty,
          addRows = Map.empty, addNulls = Map.empty, ts = ts, minWriter = attempt.minWriter,
          txns = attempt.txns, colMap = attempt.colMap, dv = attempt.dv,
          partitionSpec = attempt.partitionSpec)
        val resolved = attempt.copy(version = attempt.version + 1,
          schemaDdl = newSchema.toDDL, ts = Some(ts))
        cachePut(spark, path, resolved)
        maybeCheckpoint(spark, path, resolved)
        return resolved.version
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
        // loop: re-read the head and retry
      }
    }
    -1L // unreachable
  }

  /** ALTER TABLE ... SET PARTITION SPEC — Iceberg's partition
    * EVOLUTION: change the hidden layout of an existing table as a
    * METADATA commit. Old files keep their directories (zero
    * rewrites), new writes derive the NEW layout, and reads are
    * correct across the mix by construction: hidden tables never
    * recover partition values from directories (the raw data is
    * complete in every file), and dir-vote pruning FAILS OPEN on a
    * directory that doesn't spell a vote's name — old-layout files
    * are simply unpruned until a rewrite restages them (OPTIMIZE
    * migrates the whole table to the new layout as a side effect).
    *
    * Guard rails: only HIDDEN-partitioned or UNPARTITIONED tables
    * evolve (an explicit-partitioned table's column values live ONLY
    * in its directory names — re-deriving the layout would null
    * them); and a new transform whose directory name already appears
    * under LIVE files with different semantics refuses (`bucket(8,k)`
    * → `bucket(16,k)` share `_bucket_k=` dirs — a vote computed at 16
    * would mis-prune mod-8 values: lost rows, not a missed
    * optimization — OPTIMIZE first, then evolve). Evolving TO
    * unpartitioned refuses for the mirror reason: the read path would
    * start recovering the derived dirs as columns. */
  def alterPartitionSpec(spark: SparkSession, path: String,
                         hiddenPartitions: Seq[String],
                         maxRetries: Int = 10): Long = {
    require(hiddenPartitions.nonEmpty,
      "TxLog.alterPartitionSpec: empty spec — a hidden table cannot " +
        "evolve to unpartitioned (derived dirs would recover as columns); " +
        "CLONE or rewrite into a fresh table instead")
    var retries = 0
    while (true) {
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val attempt = manifest(spark, path, v)
      requireWritable(attempt, path)
      require(attempt.partitionSpec.nonEmpty || attempt.partitionCols.isEmpty,
        "TxLog.alterPartitionSpec: table is EXPLICITLY partitioned — its " +
          "partition values live only in directory names and cannot restage")
      val declared = StructType.fromDDL(attempt.schemaDdl)
      val transforms = PartitionTransforms.parseAll(hiddenPartitions, declared)
      transforms.foreach(t => require(!declared.fieldNames.contains(t.dirName),
        s"TxLog.alterPartitionSpec: derived name '${t.dirName}' collides " +
          "with a schema column"))
      // staging derives dirs on the PHYSICAL frame: a renamed source
      // would dangle (the files spell its original name) — same
      // invariant renameColumn enforces from the other side
      transforms.foreach(t => require(physOf(attempt, t.src) == t.src,
        s"TxLog.alterPartitionSpec: '${t.src}' is a RENAMED column " +
          s"(files spell '${physOf(attempt, t.src)}') — transform " +
          "sources must be un-renamed"))
      require(transforms.map(_.dirName).distinct.size == transforms.size,
        "TxLog.alterPartitionSpec: duplicate transforms on one column")
      // semantic-collision guard over the LIVE file directories
      val currentByDir = transformsOf(attempt).map(t => t.dirName -> t.spec).toMap
      val liveDirNames = attempt.files.flatMap(_.split('/').dropRight(1))
        .flatMap { seg =>
          val i = seg.indexOf('=')
          if (i > 0) Some(seg.substring(0, i)) else None
        }.toSet
      transforms.foreach { t =>
        if (liveDirNames.contains(t.dirName))
          require(currentByDir.get(t.dirName).contains(t.spec),
            s"TxLog.alterPartitionSpec: live files sit under " +
              s"'${t.dirName}=' directories written by a DIFFERENT " +
              s"transform — their values would mis-prune under " +
              s"${t.spec}; OPTIMIZE to restage them, then evolve")
      }
      val newPartCols = transforms.map(_.dirName)
      val nextMinWriter = math.max(attempt.minWriter, 2)
      try {
        val ts = clampedTs(attempt)
        writeDelta(spark, path, attempt.version + 1, newPartCols,
          attempt.schemaDdl, attempt.sourceBatchId, attempt.statsCols,
          attempt.constraints, attempt.uniques,
          operation = s"SET PARTITION SPEC ${transforms.map(_.spec).mkString(", ")}",
          removeDirs = Set.empty, addFiles = Nil, addStats = Map.empty,
          addRows = Map.empty, addNulls = Map.empty, ts = ts, minWriter = nextMinWriter,
          txns = attempt.txns, colMap = attempt.colMap, dv = attempt.dv,
          partitionSpec = transforms.map(_.spec))
        val resolved = attempt.copy(version = attempt.version + 1,
          partitionCols = newPartCols, ts = Some(ts),
          minWriter = nextMinWriter, partitionSpec = transforms.map(_.spec))
        cachePut(spark, path, resolved)
        maybeCheckpoint(spark, path, resolved)
        return resolved.version
      } catch {
        case e: VersionRaceException =>
          retries += 1
          if (retries > maxRetries) throw e
        // loop: re-read the head and retry
      }
    }
    -1L // unreachable
  }

  /** Append `df` as a new version: old files carried by reference, new
    * files added. With `evolveSchema` the manifest's schema WIDENS
    * (additive-only — see [[widen]]): new columns append at the end,
    * historical files read as null for them, and a version-pinned read
    * of an older manifest still returns that version's own schema. */
  def append(df0: DataFrame, path: String, evolveSchema: Boolean = false): Long =
    retryIdentityRace("append")(appendOnce(df0, path, evolveSchema))

  /** Re-run an INSERT-shaped verb when its identity allocation lost an
    * OCC race ([[IdentityRaceException]]): the re-run re-reads the head
    * and re-fills from the ADVANCED mark, so two racing appends always
    * land disjoint ranges — neither fails, neither double-allocates.
    * Bounded like [[commitRebase]]'s own retry loop. */
  private def retryIdentityRace[T](op: String)(body: => T): T = {
    var tries = 0
    while (true) {
      try return body
      catch {
        case e: IdentityRaceException =>
          tries += 1
          if (tries > 20) throw new CommitConflictException(
            s"TxLog.$op: identity allocation lost $tries consecutive " +
              s"races — ${e.getMessage}")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def appendOnce(df0: DataFrame, path: String,
                         evolveSchema: Boolean): Long = {
    val spark = df0.sparkSession
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    requireWritable(m, path)
    val declared = StructType.fromDDL(m.schemaDdl)
    // omitted DEFAULT/GENERATED columns fill BEFORE the schema gate
    val df1 = fillPolicyColumns(df0, m, declared)
    checkSchema(declared, df1.schema, evolveSchema)
    // IDENTITY columns allocate AFTER the gate (they are engine-
    // assigned, never incoming); the claims ride the commit
    val (df, idClaims) = fillIdentityColumns(df1, m, "append")
    // an evolution-added column's physical name IS its logical name —
    // it must not collide with the physical slot of a renamed column
    // (two columns would read from one physical name)
    if (evolveSchema)
      df.schema.fieldNames.filterNot(declared.fieldNames.contains).foreach { n =>
        require(!m.colMap.exists(_._2 == n),
          m.colMap.find(_._2 == n) match {
            case Some(e) if tombstoneOf(e).isDefined =>
              s"TxLog.append: new column '$n' re-uses a DROPPED column's " +
                "physical slot — add it via TxLog.addColumn (which maps it " +
                "to a fresh slot), then append"
            case e =>
              s"TxLog.append: new column '$n' collides with the physical " +
                s"name of renamed column '${e.map(_._1).getOrElse("")}'"
          })
        require(!m.partitionCols.contains(n),
          s"TxLog.append: new column '$n' collides with a derived hidden " +
            "partition directory name")
      }
    enforceConstraints(df, m.constraints, "append")
    enforceUniques(df, spark, path, declared, m.files, m, "append")
    val ddl = if (evolveSchema) widen(declared, df.schema).toDDL else m.schemaDdl
    val files = stageIn(toPhysical(df, m.colMap), path, physPartCols(m), transformsOf(m))
    // a blind append depends on nothing it read — it rebases over any
    // interleaved commit (appends never conflict with appends). Under
    // a UNIQUE set the rebase RE-PROBES the incoming keys against
    // exactly the files that landed since this append's snapshot:
    // without it, two racing appends of the same key would each pass
    // their own snapshot probe and both commit (ADVICE r8, high).
    commitRebase(spark, path, m, rewriteDirs = Set.empty, newFiles = files,
      schemaDdl = ddl, batchId = None, readSet = Some(Set.empty),
      operation = "APPEND",
      revalidate = uniqueRebaseProbe(df, spark, path, m, "append"),
      idClaims = idClaims)
  }

  /** The rebase-revalidation closure shared by the INSERT-shaped
    * commits: probe the batch's keys against files ADDED since `base`
    * (interleaved commits' new files — carried files were already
    * probed at `base`, and removals cannot introduce collisions).
    * No-op for unconstrained tables. */
  private def uniqueRebaseProbe(df: DataFrame, spark: SparkSession,
                                path: String, base: Manifest,
                                op: String): Manifest => Unit =
    if (base.uniques.isEmpty) _ => ()
    else { latest =>
      val baseSet = base.files.toSet
      val added = latest.files.filterNot(baseSet)
      if (added.nonEmpty)
        enforceUniques(df, spark, path, StructType.fromDDL(latest.schemaDdl),
          added, latest, s"$op (rebased over v${latest.version})",
          batchChecked = true)
    }

  /** Idempotent micro-batch append — the commit [[streamAppend]]'s
    * foreachBatch issues: the batch id rides in the manifest as a
    * monotonic watermark (carried forward by every other commit), and
    * a REPLAYED batch (foreachBatch re-delivers after a crash) is
    * detected against it and skipped — the commit-log side of
    * exactly-once ingest. The check assumes batch ids are monotonic
    * for the table's lifetime: run [[streamAppend]] with a DURABLE
    * `checkpointLocation`, or a restarted query re-numbering from 0
    * would be silently skipped. Returns the (possibly unchanged)
    * current version. */
  def appendBatch(df0: DataFrame, path: String, batchId: Long): Long =
    retryIdentityRace("appendBatch") {
      val spark = df0.sparkSession
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val m = manifest(spark, path, v)
      if (m.sourceBatchId.exists(_ >= batchId)) v // replay: already committed
      else {
        requireWritable(m, path)
        val df1 = fillPolicyColumns(df0, m, StructType.fromDDL(m.schemaDdl))
        checkSchema(StructType.fromDDL(m.schemaDdl), df1.schema, evolveSchema = false)
        val (df, idClaims) =
          fillIdentityColumns(df1, m, s"appendBatch(batch $batchId)")
        enforceConstraints(df, m.constraints, s"appendBatch(batch $batchId)")
        enforceUniques(df, spark, path, StructType.fromDDL(m.schemaDdl), m.files,
          m, s"appendBatch(batch $batchId)")
        val files = stageIn(toPhysical(df, m.colMap), path, physPartCols(m), transformsOf(m))
        commitRebase(spark, path, m, rewriteDirs = Set.empty, newFiles = files,
          schemaDdl = m.schemaDdl, batchId = Some(batchId),
          readSet = Some(Set.empty), operation = "STREAMING APPEND",
          revalidate = uniqueRebaseProbe(df, spark, path, m,
            s"appendBatch(batch $batchId)"),
          idClaims = idClaims)
      }
    }

  /** The per-app idempotency watermark: the highest [[appendTxn]]
    * version committed under `appId`, None if the app never wrote.
    * The exactly-once handshake is: read this, compute the next
    * increment, commit it with [[appendTxn]] at `lastTxn + 1` —
    * Delta's `txnVersion`/`txnAppId` contract. */
  def txnVersion(spark: SparkSession, path: String, appId: String): Option[Long] = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    manifest(spark, path, v).txns.get(appId)
  }

  /** Idempotent append under a PER-APP transaction watermark
    * (Delta's SetTransaction): the (appId, txnVersion) pair rides in
    * the manifest, every other commit carries the map forward, and a
    * replayed delivery — same app, same-or-older version — is
    * detected and SKIPPED, before staging any data. Unlike
    * [[appendBatch]]'s single `sourceBatchId`, the map gives EVERY
    * independent writer (multiple streams, a nightly job, a backfill)
    * its own exactly-once lane into one table; the check re-runs
    * inside the rebase loop, so a replay that loses a race to its own
    * earlier attempt still commits exactly once. Watermarks must be
    * monotonic per app for the table's lifetime (a restarted pipeline
    * renumbering from 0 is silently skipped — resume from
    * [[txnVersion]]). The first watermark raises `minWriter` to 3:
    * an older writer generation would drop the map on its next
    * commit, silently re-opening the replay door. Returns the
    * (possibly unchanged) current version. */
  def appendTxn(df0: DataFrame, path: String, appId: String,
                txnVersion: Long): Long =
    retryIdentityRace("appendTxn") {
      require(appId.nonEmpty, "TxLog.appendTxn: empty appId")
      val spark = df0.sparkSession
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val m = manifest(spark, path, v)
      if (m.txns.get(appId).exists(_ >= txnVersion)) v // replay
      else {
        requireWritable(m, path)
        val df1 = fillPolicyColumns(df0, m, StructType.fromDDL(m.schemaDdl))
        checkSchema(StructType.fromDDL(m.schemaDdl), df1.schema, evolveSchema = false)
        val (df, idClaims) =
          fillIdentityColumns(df1, m, s"appendTxn($appId @ $txnVersion)")
        enforceConstraints(df, m.constraints, s"appendTxn($appId @ $txnVersion)")
        enforceUniques(df, spark, path, StructType.fromDDL(m.schemaDdl), m.files,
          m, s"appendTxn($appId @ $txnVersion)")
        val files = stageIn(toPhysical(df, m.colMap), path, physPartCols(m), transformsOf(m))
        commitRebase(spark, path, m, rewriteDirs = Set.empty, newFiles = files,
          schemaDdl = m.schemaDdl, batchId = None,
          readSet = Some(Set.empty),
          operation = s"APPEND TXN $appId @ $txnVersion",
          revalidate = uniqueRebaseProbe(df, spark, path, m,
            s"appendTxn($appId @ $txnVersion)"),
          txn = Some(appId -> txnVersion),
          idClaims = idClaims)
      }
    }

  /** Streaming ingest into a TxLog table (create it first): every
    * micro-batch commits as one append version via [[appendBatch]], so
    * readers always see whole batches (snapshot isolation) and crash
    * replays cannot double-append. Pass a durable
    * `checkpointLocation` in production — batch-id monotonicity across
    * restarts is what the replay detection rides on. */
  def streamAppend(docs: DataFrame, path: String,
                   checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendBatch(batch, path, batchId); ()
      }
    checkpointLocation.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** [[streamAppend]] for MULTIPLE concurrent streams into one table:
    * each query names its own `appId`, its micro-batch ids ride that
    * app's [[appendTxn]] watermark lane, and the streams never gate
    * each other — where [[streamAppend]]'s single `sourceBatchId`
    * would conflate two queries' batch numbering (stream B's batch 3
    * silently skipped because stream A already committed a 7). Same
    * durability contract: give each query its OWN durable
    * `checkpointLocation`, and never reuse an appId across logically
    * different pipelines. */
  def streamAppendTxn(docs: DataFrame, path: String, appId: String,
                      checkpointLocation: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        appendTxn(batch, path, appId, batchId); ()
      }
    checkpointLocation.fold(w)(w.option("checkpointLocation", _)).start()
  }

  /** OPTIMIZE — transactional small-file compaction: every live
    * partition holding at least `minFilesToCompact` files is rewritten
    * into ceil(bytes / targetBytesPerFile) new files (sized from
    * parquet statistics — no counting scan) and the swap commits as
    * ONE new version. Content is row-identical; only layout changes.
    * Partitions below the threshold carry by reference; readers of
    * older versions keep the small files until [[vacuum]]. Returns the
    * new version, or the current one when nothing needed compacting. */
  /** A non-empty `zorderBy` turns the rewrite into the Delta-style
    * `OPTIMIZE … ZORDER BY c1[, c2, ...]`: each compacted partition's
    * rows range-partition and sort on the quantile-bucketized Morton
    * interleave of the named columns before landing (two columns take
    * Layout.zorderedFrame, three or more the N-dimensional
    * generalization, one a plain range-cluster sort), so a
    * post-compact range scan on any clustered column touches few
    * files — and the layout change commits atomically with the same
    * snapshot guarantees as a plain compact. */
  /** A non-empty `partitions` scopes the OPTIMIZE to the named
    * partition values (Delta's `OPTIMIZE ... WHERE`): on a
    * 10^5-partition table the nightly maintenance pass rewrites
    * yesterday's partition, not the world — candidate selection,
    * rewrite, readSet, and conflict surface all shrink to the named
    * set. Within the scope the `minFilesToCompact` threshold still
    * applies. */
  def compact(spark: SparkSession, path: String,
              targetBytesPerFile: Long = 128L << 20,
              minFilesToCompact: Int = 2,
              zorderBy: Seq[String] = Nil,
              partitions: Seq[Any] = Nil,
              dirScope: Option[Set[String]] = None): Long = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    val scope: Option[Set[String]] =
      if (dirScope.isDefined) dirScope
      else if (partitions.isEmpty) None
      else {
        require(m.partitionCols.nonEmpty,
          "TxLog.compact(partitions=...) needs a partitioned table")
        require(m.partitionSpec.isEmpty,
          "TxLog.compact(partitions=...): this table uses HIDDEN " +
            "partitioning — partitions have no user-facing names; run a " +
            "full compact instead")
        Some(partitions.map(p => partitionDirPath(physPartCols(m),
          asPartitionTuple(m.partitionCols, p))).toSet)
      }
    // dirs whose files carry outstanding DV entries compact even below
    // the file-count threshold: compaction is the advertised remedy
    // (DESCRIBE DETAIL) that MATERIALIZES deletion vectors — a
    // single-file dir would otherwise never materialize and its reads
    // would pay the per-row DV filter forever
    val dvDirs = m.dv.flatMap(_._2.keys).map(dirOf).toSet
    val todo = m.files.groupBy(dirOf)
      .filter { case (dir, files) =>
        (files.size >= minFilesToCompact || dvDirs.contains(dir)) &&
          scope.forall(_.contains(dir))
      }
    if (todo.isEmpty) return v
    val schema = StructType.fromDDL(m.schemaDdl)
    // the table's DECLARED clustering applies when the caller names
    // none (graft.zorderCols); an explicit zorderBy always wins
    val zorder: Seq[String] =
      if (zorderBy.nonEmpty) zorderBy
      else propsOf(m).get(ZorderColsProp).toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
    zorder.foreach(c => require(schema.fieldNames.contains(c),
      s"TxLog.compact: z-order column '$c' is not in the schema — " +
        s"re-declare $ZorderColsProp after schema changes"))
    // statistics-sized per partition, but ONE write job for the whole
    // OPTIMIZE: each partition's subset repartitions to its own file
    // count and the union executes as a single Spark job — compaction
    // cost scales with rewritten bytes, not with partition count
    val pieces = todo.toSeq.sortBy(_._1).map { case (_, files) =>
      val part = readFiles(spark, path, m, files)
      val bytes = part.queryExecution.optimizedPlan.stats.sizeInBytes
      val n = ((bytes + BigInt(targetBytesPerFile) - 1) / targetBytesPerFile)
        .max(1).toInt
      zorder match {
        case Seq() => part.repartition(n)
        case Seq(c1) => // one column: range-cluster + sort IS the z-order
          part.repartitionByRange(n, org.apache.spark.sql.functions.col(c1))
            .sortWithinPartitions(c1)
        case Seq(c1, c2) =>
          graft.operators.Layout.zorderedFrame(part, c1, c2, numFiles = n)
        case cols =>
          graft.operators.Layout.zorderedFrameN(part, cols, numFiles = n)
      }
    }
    val newFiles = stageIn(toPhysical(pieces.reduce(_ unionByName _), m.colMap),
      path, physPartCols(m), transformsOf(m))
    // a compaction reads exactly the partitions it rewrites: it rebases
    // over appends/merges to OTHER partitions (the OPTIMIZE-vs-ingest
    // guarantee) and conflicts only when ITS partitions moved under it
    commitRebase(spark, path, m, rewriteDirs = todo.keySet,
      newFiles = newFiles, schemaDdl = m.schemaDdl, batchId = None,
      readSet = Some(todo.keySet),
      operation = if (zorder.isEmpty) "OPTIMIZE"
        else s"OPTIMIZE ZORDER BY ${zorder.mkString(", ")}")
  }

  /** Transactional merge (upsert) — the plain-parquet equivalent of a
    * Delta MERGE: updates win on key collision and the batch's other
    * rows insert. The clause set over [[mergeWhen]]'s engine:
    * `WHEN MATCHED THEN UPDATE SET c = src.c` for every column the
    * batch carries, `WHEN NOT MATCHED THEN INSERT *`. A whole-row
    * update may move a key to another partition: its old row leaves
    * with the file (or DV) it lived in, its new row stages in the new
    * partition. Write economics, discovery and the DV mode are the
    * engine's ([[mergeWhen]]); the table must be partitioned, carry no
    * IDENTITY column, and with `evolveSchema` the batch must carry
    * every declared column (a merged row has no third place to take a
    * value from). `preValidated = true` skips the duplicate-key probe
    * for a batch the caller already keyed. Returns the new version. */
  def mergeInto(path: String, updates: DataFrame, keys: Seq[String],
                preValidated: Boolean = false,
                evolveSchema: Boolean = false,
                deletionVectors: Boolean = false,
                txn: Option[(String, Long)] = None): Long = {
    val spark = updates.sparkSession
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    // per-app idempotency lane (see [[appendTxn]]): a replayed CDC
    // apply skips before staging anything
    if (txn.exists { case (a, tv) => m.txns.get(a).exists(_ >= tv) }) return v
    requireWritable(m, path)
    requireAppendable(m, path, "mergeInto (an upsert rewrites matched rows)")
    require(m.partitionCols.nonEmpty,
      "TxLog.mergeInto needs a partitioned table (create with partitionCol[s])")
    require(identityColumns(m).isEmpty,
      s"TxLog.mergeInto: table has IDENTITY column(s) " +
        s"${identityColumns(m).keys.mkString(", ")} — updates carry whole " +
        "rows, which would write explicit identity values; use mergeWhen " +
        "(its INSERT * allocates them)")
    val declared = StructType.fromDDL(m.schemaDdl)
    checkSchema(declared, updates.schema, evolveSchema)
    if (evolveSchema) {
      declared.fields.foreach(f => require(
        updates.schema.fieldNames.contains(f.name),
        s"TxLog.mergeInto(evolveSchema): updates must carry declared " +
          s"column '${f.name}'"))
      updates.schema.fieldNames.filterNot(declared.fieldNames.contains)
        .foreach(n => require(!m.colMap.exists(_._2 == n),
          s"TxLog.mergeInto: new column '$n' collides with the physical " +
            "name of a renamed column"))
    }
    mergeClauses(MergeEntry("mergeInto", "MERGE", "update"), path, m, updates,
      keys, matched = Seq(MergeClause(None, "update", setAll(updates.columns))),
      notMatched = Seq(MergeClause(None, "insert")), notMatchedBySource = Nil,
      deletionVectors, txn, evolveSchema, preValidated)
  }

  /** `SET c = src.c` for each column in `cols`. */
  private def setAll(cols: Seq[String]): Seq[(String, String)] =
    cols.map(c => c -> s"src.`${c.replace("`", "``")}`")

  /** One WHEN clause of [[mergeWhen]]. `condition` is a SQL boolean
    * over the TARGET row's columns plus the source row as a struct
    * named `src` (`src.qty > qty`); None = unconditional. `sets` are
    * the UPDATE assignments (target column -> SQL expression over the
    * same namespace); empty for DELETE and INSERT clauses (INSERT is
    * always `INSERT *` — the source row lands whole). */
  case class MergeClause(condition: Option[String], action: String,
                         sets: Seq[(String, String)] = Nil) {
    require(Set("update", "delete", "insert").contains(action),
      s"MergeClause: unknown action '$action'")
    require(action != "update" || sets.nonEmpty,
      "MergeClause(update): no SET assignments")
    require(action == "update" || sets.isEmpty,
      s"MergeClause($action): SET assignments only apply to update")
  }

  /** The full conditional MERGE (Delta/SQL:2003 grammar): per
    * joined-row disposition by the FIRST clause whose condition holds
    * —
    *  - `matched` (target row has a source row with its key):
    *    UPDATE SET ... or DELETE;
    *  - `notMatched` (source row matches no target row): INSERT *;
    *  - `notMatchedBySource` (target row matches no source row):
    *    DELETE — the "make target mirror source" sync shape.
    * Unmatched-by-any-clause rows carry unchanged.
    *
    * Write economics: without a `notMatchedBySource` clause the
    * rewrite set is exactly the FILES holding a matched key — every
    * other file, including the rest of a hot partition, carries into
    * the new manifest by reference and stays byte-identical on disk.
    * Discovery runs cheapest first: a min/max SKIP-INDEX prune when
    * the single merge key is a tracked stats column, a Bloom-sidecar
    * vote for a bounded key set (≤1024 distinct), then one
    * key-column-pruned semi-join scan that collects which FILES hold a
    * matched key (a file-count-bounded driver set, never data). With a
    * `notMatchedBySource` clause every target row must be inspected —
    * the rewrite is the whole table, Delta's cost for the same clause.
    * The commit is one protocol-2 `removeFiles` delta either way:
    * readers see the old snapshot until the single rename.
    *
    * Contracts: source keys must be unique within the batch (which
    * clause wins would otherwise be load-bearing row order); INSERT
    * requires the source to carry every declared column; UPDATE may
    * not assign partition/transform-source columns (a moved row's
    * directory is [[updateWhere]]'s job — merge on the key instead);
    * CHECK constraints re-vet every written row. Returns the new
    * version (the unchanged current one when nothing matched any
    * clause). */
  /** `deletionVectors = true` switches the conditional merge to
    * MERGE-ON-READ: every actioned target row's position lands in a
    * delete-sized DV sidecar (an UPDATE's old version and a DELETE
    * both), the updated images and inserts append as new files, and
    * NO existing file rewrites — write cost is actioned ROWS, not
    * matched FILES. The winner when a few keys change inside big
    * files; with a NOT MATCHED BY SOURCE clause it is the difference
    * between a whole-table rewrite and a delete-sized sidecar. Same
    * DV trade as [[deleteWhere]]: per-read anti-join until OPTIMIZE
    * materializes. The table property `graft.deletionVectors`
    * declares the same mode for every merge. */
  /** `evolveSchema = true` additionally admits source columns the
    * table does not have yet: the manifest's schema WIDENS in the same
    * commit ([[widen]] — additive-only, same contract as
    * [[append]]/[[mergeInto]] evolution), existing rows read the new
    * columns as null, INSERT * lands them whole, and UPDATE SET may
    * assign them (`SET newcol = src.newcol`). Version-pinned reads of
    * older versions keep their own schema. The CDC-sync shape: a
    * source that grew a column merges without a hand-ALTER first. */
  def mergeWhen(path: String, source: DataFrame, keys: Seq[String],
                matched: Seq[MergeClause] = Nil,
                notMatched: Seq[MergeClause] = Nil,
                notMatchedBySource: Seq[MergeClause] = Nil,
                deletionVectors: Boolean = false,
                txn: Option[(String, Long)] = None,
                evolveSchema: Boolean = false): Long = {
    require(keys.nonEmpty, "TxLog.mergeWhen: empty key set")
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "TxLog.mergeWhen: no WHEN clauses")
    require(matched.forall(c => c.action == "update" || c.action == "delete"),
      "TxLog.mergeWhen: WHEN MATCHED supports UPDATE and DELETE")
    require(notMatched.forall(_.action == "insert") && notMatched.size <= 1,
      "TxLog.mergeWhen: WHEN NOT MATCHED supports a single INSERT clause")
    require(notMatchedBySource.forall(_.action == "delete"),
      "TxLog.mergeWhen: WHEN NOT MATCHED BY SOURCE supports DELETE")
    val spark = source.sparkSession
    // identity allocation races re-run the whole merge from the new
    // head — everything derives from a fresh manifest read, so a
    // re-run is a recompute, never a double-apply
    retryIdentityRace("mergeWhen") {
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val m = manifest(spark, path, v)
      // per-app idempotency lane (see [[appendTxn]]); a merge whose
      // clauses all no-op still SEALS the watermark ([[sealNoopTxn]])
      // — the table can change between delivery and redelivery, so an
      // unsealed lane would let the replay apply effects the original
      // did not
      if (txn.exists { case (a, tv) => m.txns.get(a).exists(_ >= tv) }) v
      else {
        requireWritable(m, path)
        // an INSERT-only merge appends — permitted under appendOnly;
        // any matched / not-matched-by-source clause updates or deletes
        if (matched.nonEmpty || notMatchedBySource.nonEmpty)
          requireAppendable(m, path,
            "mergeWhen with MATCHED / NOT MATCHED BY SOURCE clauses")
        val declared = StructType.fromDDL(m.schemaDdl)
        checkSchema(declared, source.schema, evolveSchema)
        // evolution: new columns take their LOGICAL name as the
        // physical slot — refuse collisions with renamed/dropped slots
        // and derived hidden-partition dir names (same gates as
        // [[append]] evolution)
        if (evolveSchema)
          source.schema.fieldNames.filterNot(declared.fieldNames.contains)
            .foreach { n =>
              require(!m.colMap.exists(_._2 == n),
                s"TxLog.mergeWhen: new column '$n' collides with the physical " +
                  "slot of a renamed or dropped column — add it via " +
                  "TxLog.addColumn first")
              require(!m.partitionCols.contains(n),
                s"TxLog.mergeWhen: new column '$n' collides with a derived " +
                  "hidden partition directory name")
            }
        val widened = if (evolveSchema) widen(declared, source.schema) else declared
        keys.foreach(k => require(declared.fieldNames.contains(k) &&
          source.columns.contains(k),
          s"TxLog.mergeWhen: key '$k' must exist on both sides"))
        // IDENTITY columns are engine-assigned end to end: the source
        // may not carry them (GENERATED ALWAYS), SET may not assign them
        // (the gate below), and INSERT * fills them from the high-water
        // mark
        identityColumns(m).keySet.foreach(c =>
          require(!source.columns.contains(c),
            s"TxLog.mergeWhen: column '$c' is GENERATED ALWAYS AS IDENTITY " +
              "— the source may not carry it (merge on a natural key)"))
        if (notMatched.nonEmpty) {
          val policyCols = columnDefaults(m).keySet ++
            generatedColumns(m).keySet ++ identityColumns(m).keySet
          widened.fields.foreach(f => require(
            source.columns.contains(f.name) || policyCols.contains(f.name),
            s"TxLog.mergeWhen: INSERT * needs source column '${f.name}' " +
              "(only DEFAULT/GENERATED/IDENTITY columns may be omitted)"))
        }
        // assigning a layout column would silently leave the row in its
        // old directory — refuse, as updateWhere's relocation contract
        // doesn't compose with conditional clauses
        val layoutCols = mergeLayoutCols(m).toSet
        matched.flatMap(_.sets).foreach { case (c, _) =>
          require(widened.fieldNames.contains(c),
            s"TxLog.mergeWhen: SET names unknown column '$c'")
          require(!layoutCols.contains(c),
            s"TxLog.mergeWhen: SET may not assign layout column '$c'")
          require(!identityColumns(m).contains(c),
            s"TxLog.mergeWhen: SET may not assign IDENTITY column '$c'")
        }
        mergeClauses(MergeEntry("mergeWhen", "MERGE WHEN", "source"), path, m,
          source, keys, matched, notMatched, notMatchedBySource,
          deletionVectors, txn, evolveSchema, preValidated = false)
      }
    }
  }

  /** The columns a row's directory derives from: the partition columns,
    * or a hidden layout's transform sources. */
  private def mergeLayoutCols(m: Manifest): Seq[String] =
    if (m.partitionSpec.isEmpty) m.partitionCols else transformsOf(m).map(_.src)

  /** One public entry of the keyed MERGE engine: `verb` names it in
    * refusals and warnings, `operation` in the commit, `rows` the
    * batch's rows in the duplicate-key refusal. */
  private final case class MergeEntry(verb: String, operation: String, rows: String)

  /** The keyed MERGE engine behind [[mergeWhen]], [[mergeInto]] and
    * [[applyChanges]]. It trusts its caller: schema, clause shapes and
    * SET targets were vetted by the public entry, so a caller's own
    * clause set may assign layout columns (a whole-row update moves
    * its key) and the source may carry columns only conditions read
    * (`src._change_type`) — INSERT * and SET write table columns only.
    * `preValidated` skips the duplicate-key probe. */
  private def mergeClauses(entry: MergeEntry, path: String, m: Manifest,
                           source: DataFrame, keys: Seq[String],
                           matched: Seq[MergeClause],
                           notMatched: Seq[MergeClause],
                           notMatchedBySource: Seq[MergeClause],
                           deletionVectors: Boolean,
                           txn: Option[(String, Long)],
                           evolveSchema: Boolean,
                           preValidated: Boolean): Long = {
    import org.apache.spark.sql.functions.{col, concat_ws, count, expr, lit, max,
      min, struct, when}
    val spark = source.sparkSession
    val declared = StructType.fromDDL(m.schemaDdl)
    val widened = if (evolveSchema) widen(declared, source.schema) else declared
    // target rows read with their OWN schema; evolution pads the new
    // columns with typed nulls so both sides join/union in widened shape
    def padNewCols(df: DataFrame): DataFrame =
      widened.fields.filterNot(f => declared.fieldNames.contains(f.name))
        .foldLeft(df)((d, f) =>
          d.withColumn(f.name, lit(null).cast(f.dataType)))
    // a no-op merge under evolveSchema still WIDENS: schema presence
    // must not depend on whether this particular batch matched rows
    // (the CDC window that grew a column but touched nothing would
    // otherwise leave the table unwidened AND seal its txn lane, so
    // the widening never retries). The widen commit also seals.
    def sealOrWiden(op: String): Long =
      if (evolveSchema && widened.toDDL != m.schemaDdl)
        commitRebase(spark, path, m, rewriteDirs = Set.empty,
          newFiles = Nil, schemaDdl = widened.toDDL, batchId = None,
          readSet = Some(Set.empty), operation = s"$op (WIDEN)", txn = txn)
      else sealNoopTxn(spark, path, m, txn, op)
    require(!widened.fieldNames.contains("src"),
      s"TxLog.${entry.verb}: the table has a column literally named 'src' — " +
        "the clause namespace reserves it for the source-row struct")
    def clauseCond(c: MergeClause): org.apache.spark.sql.Column =
      c.condition.map(expr).getOrElse(lit(true))
    val srcStruct = struct(source.columns.map(col).toIndexedSeq: _*)
    // batch validation in ONE key-grouped aggregate: a key with more
    // than one source row has no well-defined winning clause, and a
    // row that would write a NULL layout value lands under
    // __HIVE_DEFAULT_PARTITION__, outside the layout contract. The
    // layout flag is 2 where a layout-assigning SET (the whole-row
    // updates of mergeInto/applyChanges) would write the null and 1
    // where only INSERT * would (omitted DEFAULT/GENERATED layout
    // columns filled first) — a matched row does not insert, so a 1 is
    // confirmed against the table before it refuses. The persisted
    // aggregate is also the distinct key set discovery semi-joins
    // against, so the batch shuffles by key once per merge.
    val layoutCols = mergeLayoutCols(m)
    val filledSrc = (if (notMatched.isEmpty) source
      else fillPolicyColumns(source, m, widened)).withColumn("src", srcStruct)
    val insertNull = notMatched.map(c => clauseCond(c) && layoutCols
      .filter(filledSrc.columns.contains).map(col(_).isNull).foldLeft(lit(false))(_ || _))
    val setNull = matched.flatMap(c => c.sets.collect {
      case (t, e) if layoutCols.contains(t) => clauseCond(c) && expr(e).isNull })
    val layoutFlag = when(setNull.foldLeft(lit(false))(_ || _), 2)
      .when(insertNull.foldLeft(lit(false))(_ || _), 1).otherwise(0)
      .as("__graft_pn")
    val flagged = filledSrc.select(keys.map(col) :+ layoutFlag: _*)
    val keyAgg: Option[DataFrame] =
      if (preValidated) None
      else Some(flagged.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("__graft_c"), max(col("__graft_pn")).as("__graft_pn"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    // the merge key's stats bounds (discovery's range prune and the
    // commit's read declaration) ride the same aggregate
    val boundCols = keyBoundCols(m, declared, keys)
    try {
    val probe: Option[org.apache.spark.sql.Row] =
      if (keyAgg.isEmpty && setNull.isEmpty && insertNull.isEmpty && boundCols.isEmpty) None
      else Some(keyAgg.getOrElse(flagged.withColumn("__graft_c", lit(1L)))
        .agg(max(col("__graft_pn")), min(when(col("__graft_c") > 1,
          concat_ws(",", keys.map(k => col(k).cast("string")): _*))) +:
          boundCols.toSeq.flatten: _*)
        .head())
    probe.foreach { viol =>
      val layoutNull = !viol.isNullAt(0) && (viol.getInt(0) == 2 ||
        viol.getInt(0) == 1 && !flagged.filter(col("__graft_pn") === 1)
          .select(keys.map(col): _*)
          .join(readFiles(spark, path, m, m.files).select(keys.map(col): _*),
            keys, "left_anti").isEmpty)
      require(!layoutNull,
        s"TxLog.${entry.verb}: null ${layoutCols.mkString("/")} values are not " +
          "supported — merge them under an explicit sentinel partition instead")
      require(viol.isNullAt(1),
        s"TxLog.${entry.verb}: duplicate ${entry.rows} rows for key " +
          s"(${keys.mkString(",")})=(${if (viol.isNullAt(1)) "" else viol.getString(1)})")
    }
    warnUncoveredUniques(m, keys, entry.verb)
    // ---- discovery: the files that may hold a source key — stats
    // range prune against the key bounds, then the Bloom vote over a
    // bounded key set. The bounds are also the commit's READ
    // declaration: [[mergeRebaseCheck]] votes concurrently-added files
    // against them, so disjoint-key concurrent merges rebase
    val tz = spark.sessionState.conf.sessionLocalTimeZone
    val bounds = boundCols.map(_ => boundsAt(keys, probe.get, 2))
    val sourceEmpty = bounds.contains(None) // no key at all: nothing matches
    val keyBounds = bounds.flatten
    val discoveryFiles: Seq[String] = keyBounds match {
      case None => if (sourceEmpty) Nil else m.files
      case Some((k, lo, hi)) => bloomPruneByKeys(spark, path, physOf(m, k),
        boundedDistinct(source, k, 1024), pruneByRange(m, declared, m.files, k, lo, hi, tz))
    }
    // a NOT MATCHED BY SOURCE clause makes EVERY target row (including
    // rows of concurrently-added files) load-bearing: the read
    // declaration widens to the whole table and nothing added/changed
    // is admissible
    def whenRebaseCheck(readCandidates: Set[String], touched: Set[String])
        : (Manifest, Manifest) => Option[String] =
      if (notMatchedBySource.isEmpty)
        mergeRebaseCheck(widened, keyBounds, sourceEmpty,
          readCandidates, touched, tz)
      else
        mergeRebaseCheck(widened, None, sourceEmpty = false,
          m.files.toSet, touched, tz)
    val srcKeys = keyAgg.map(_.select(keys.map(col): _*))
      .getOrElse(source.select(keys.map(col): _*).distinct())
    val srcStructed = source.select(keys.map(col) :+ srcStruct.as("src"): _*)
    // disposition: first-true clause index; -1 = carry unchanged.
    // matched and not-matched-by-source branches are disjoint on
    // src's nullness, so one chain serves both
    val actions: Seq[(Int, MergeClause, org.apache.spark.sql.Column)] =
      matched.zipWithIndex.map { case (c, i) =>
        (i, c, col("src").isNotNull && clauseCond(c)) } ++
      notMatchedBySource.zipWithIndex.map { case (c, i) =>
        (matched.size + i, c, col("src").isNull && clauseCond(c)) }
    val actCol = actions.foldRight(lit(-1): org.apache.spark.sql.Column) {
      case ((i, _, cond), rest) => when(cond, lit(i)).otherwise(rest)
    }
    val deletes = actions.collect { case (i, c, _) if c.action == "delete" => i }
    val updateIdx = actions.collect { case (i, c, _) if c.action == "update" => i }
    def applyUpdates(df: DataFrame): DataFrame =
      df.select(widened.fields.map { f =>
        actions.collect { case (i, c, _) if c.action == "update" =>
          c.sets.find(_._1 == f.name).map(s => (i, s._2))
        }.flatten.foldRight(col(f.name)) { case ((i, setExpr), rest) =>
          when(col("_act") === i, expr(setExpr)).otherwise(rest)
        }.cast(f.dataType).as(f.name)
      }.toSeq: _*)
    // INSERT * lands the source rows whose key `existing` (the target
    // keys of a scan covering every file that can hold a source key)
    // lacks; None = no target file can hold one
    def insertsGiven(existing: Option[DataFrame])
        : (Option[DataFrame], Map[String, (Long, Long)]) =
      notMatched.headOption.fold((Option.empty[DataFrame], Map.empty[String, (Long, Long)])) { c =>
        val withSrc = source.withColumn("src", srcStruct)
        val landed = existing.fold(withSrc)(withSrc.join(_, keys, "left_anti"))
          .filter(clauseCond(c))
          .select(source.columns.map(col).toIndexedSeq: _*)
        // INSERT * is insert-shaped: omitted DEFAULT columns fill,
        // omitted GENERATED columns compute, and omitted IDENTITY
        // columns allocate — same as the append family; the claims
        // ride this merge's commit
        val (filled, claims) = fillIdentityColumns(
          fillPolicyColumns(landed, m, widened), m, entry.verb)
        (Some(filled.select(widened.fieldNames.map(col).toSeq: _*)), claims)
      }
    def vetWritten(written: DataFrame, op: String): Unit = {
      enforceConstraints(written, m.constraints, op)
      // UNIQUE cost model: within-batch only over what this commit
      // writes (an INSERT or a SET on a unique column could otherwise
      // silently duplicate); collisions against UNTOUCHED files are
      // the uncovered-keys trade flagged loudly by warnUncoveredUniques
      enforceUniques(written, spark, path, widened, Nil, m,
        s"$op written rows (within-batch)")
    }
    def acting(rows: Option[DataFrame], idx: Seq[Int]): Option[DataFrame] =
      rows.filter(_ => idx.nonEmpty).map(_.filter(col("_act").isInCollection(idx)))
    // write-time CDC: deleted target rows carry the old row, updates
    // exact pre/postimages, inserts the filled rows
    def changeRecord(rows: Option[DataFrame], inserts: Option[DataFrame]): DataFrame = {
      def shaped(df: DataFrame, t: String): DataFrame =
        df.select(widened.fieldNames.map(col).toIndexedSeq
          :+ lit(t).as("_change_type"): _*)
      (acting(rows, deletes).map(shaped(_, "delete")).toSeq ++
        acting(rows, updateIdx).toSeq.flatMap(u => Seq(shaped(u, "update_preimage"),
          shaped(applyUpdates(u), "update_postimage"))) ++
        inserts.map(shaped(_, "insert"))).reduce(_ unionByName _)
    }
    if (deletionVectors || dvDeclared(m)) {
      // MERGE-ON-READ: one scan of the scope materializes every
      // ACTIONED row with its position (the updateWhere(dv) pattern);
      // the DV and the updated images both derive from that single
      // materialization — no file rewrites at all
      val op = s"${entry.operation} (DV)"
      val scanFiles: Seq[String] =
        if (notMatchedBySource.nonEmpty) m.files else discoveryFiles
      if (scanFiles.isEmpty && notMatched.isEmpty) return sealOrWiden(op)
      val tmp = new Path(path,
        s"_tmp_update_${java.util.UUID.randomUUID().toString.take(12)}")
      val fsx = fsFor(spark, path)
      try {
        // the scratch set holds the actioned rows plus every other
        // matched row: the matched keys are what INSERT * anti-joins,
        // so the insert decision reads no second scan of the target
        val scanned: Option[DataFrame] =
          if (scanFiles.isEmpty) None
          else {
            val rows = padNewCols(readFiles(spark, path, m, scanFiles, keepDvKey = true))
              .join(srcStructed, keys, "left_outer")
              .withColumn("_act", actCol)
              .filter(col("_act") =!= -1 || col("src").isNotNull)
            rows.write.parquet(tmp.toString)
            // read back with the schema just written: no inference job
            Some(spark.read.schema(rows.schema).parquet(tmp.toString))
          }
        val actioned = scanned.map(_.filter(col("_act") =!= -1))
        val (inserts, idClaims) = insertsGiven(scanned.map(
          _.filter(col("src").isNotNull).select(keys.map(col): _*)))
        val written: Option[DataFrame] = (acting(actioned, updateIdx).map(applyUpdates)
          .toSeq ++ inserts.toSeq).reduceOption(_ unionByName _)
        written.foreach(vetWritten(_, s"${entry.verb}(dv)"))
        // no sidecar when nothing was actioned: writeDv counts what it
        // wrote, so an empty actioned set costs no extra probe
        val addDv: Seq[(String, Map[String, Long])] =
          actioned.flatMap(writeDv(spark, path, m, _)).toSeq
        val staged = written.map(w => stageIn(toPhysical(w, m.colMap), path,
          physPartCols(m), transformsOf(m))).getOrElse(Nil)
        if (addDv.isEmpty && staged.isEmpty) // nothing matched any clause
          return sealOrWiden(op)
        // CDC from the ONE materialized actioned set
        return commitRebase(spark, path, m, rewriteDirs = Set.empty,
          newFiles = staged, schemaDdl = widened.toDDL, batchId = None,
          readSet = None, operation = op, addDv = addDv,
          txn = txn, rebaseCheck = Some(whenRebaseCheck(scanFiles.toSet,
            addDv.flatMap(_._2.keys).toSet)),
          idClaims = idClaims,
          cdc = captureCdc(spark, path, m, changeRecord(actioned, inserts)))
      } finally fsx.delete(tmp, true)
    }
    val hitFiles: Set[String] =
      if (matched.isEmpty) Set.empty
      else discoverHitFiles(spark, path, m, discoveryFiles,
        _.join(srcKeys, keys, "left_semi"))
    val scopeFiles: Set[String] =
      if (notMatchedBySource.nonEmpty) m.files.toSet else hitFiles
    if (scopeFiles.isEmpty && notMatched.isEmpty)
      return sealOrWiden(entry.operation)
    val scopeRows = padNewCols(readFiles(spark, path, m, scopeFiles.toSeq))
    val acted = scopeRows.join(srcStructed, keys, "left_outer")
      .withColumn("_act", actCol)
    val rewritten = applyUpdates(acted.filter(!col("_act").isInCollection(deletes)))
    // the scope covers every file holding a source key unless the merge
    // is insert-only; that one anti-joins the discovery scan instead
    // (it rewrites nothing, but an existing key must still not insert)
    val (inserts, idClaims) = insertsGiven(Some(readFiles(spark, path, m,
      if (matched.isEmpty && notMatchedBySource.isEmpty) discoveryFiles
      else scopeFiles.toSeq).select(keys.map(col): _*)))
    val written = inserts.fold(rewritten)(rewritten.unionByName(_))
    vetWritten(written, entry.verb)
    val newFiles = stageIn(toPhysical(written, m.colMap), path,
      physPartCols(m), transformsOf(m))
    if (newFiles.isEmpty && scopeFiles.isEmpty) // nothing matched any clause
      return sealOrWiden(entry.operation)
    // the read declaration is FILE-granular (mergeRebaseCheck): an
    // interleaved commit conflicts only when it touches what this
    // merge read/rewrites or adds files that may hold merged keys —
    // anything else rebases; an actual overlap still throws
    // CommitConflictException rather than silently dropping the
    // winner's rows (recompute and re-merge)
    commitRebase(spark, path, m, rewriteDirs = Set.empty,
      newFiles = newFiles, schemaDdl = widened.toDDL, batchId = None,
      readSet = None, operation = entry.operation, removeFiles = scopeFiles,
      txn = txn, rebaseCheck = Some(whenRebaseCheck(
        discoveryFiles.toSet ++ scopeFiles, scopeFiles)),
      idClaims = idClaims, cdc = captureCdc(spark, path, m, changeRecord(Some(acted), inserts)))
    // every consumer of keyAgg (validation, discovery, the DV sidecar
    // write, CDC capture) has executed by commit time — each return
    // path releases the cached key set through this finally
    } finally keyAgg.foreach(_.unpersist(blocking = false))
  }

  /** Up to `limit` distinct values of `colName` in `df`, or Nil when
    * there are more — the bounded driver hop the Bloom vote rides
    * (an unbounded key set skips the vote, never collects). */
  private def boundedDistinct(df: DataFrame, colName: String,
                              limit: Int): Seq[Any] = {
    val vals = df.select(org.apache.spark.sql.functions.col(colName))
      .distinct().limit(limit + 1).collect().map(_.get(0)).toSeq
    if (vals.size > limit) Nil else vals
  }

  /** Bloom-sidecar vote over a candidate set for a BOUNDED key set:
    * keep files whose sidecar might contain ANY of the values; files
    * without a sidecar (or an empty/unbounded key set) stay —
    * always an optimization, never a filter. */
  private def bloomPruneByKeys(spark: SparkSession, path: String,
                               colName: String, values: => Seq[Any],
                               files: Seq[String]): Seq[String] = {
    // sidecar existence FIRST: `values` is by-name because computing a
    // bounded distinct over the source is a Spark job — pure overhead
    // on the (common) tables that never declared a Bloom index
    val fs = fsFor(spark, path)
    val dir = bloomDir(path, colName)
    if (!fs.exists(dir)) return files
    val vals = values
    if (vals.isEmpty) return files
    val hashes = vals.map(keyHash)
    files.filter { f =>
      val p = new Path(dir, sidecarName(f))
      if (!fs.exists(p)) true
      else {
        val in = fs.open(p)
        try {
          val bf = org.apache.spark.util.sketch.BloomFilter.readFrom(in)
          hashes.exists(bf.mightContainLong)
        } finally in.close()
      }
    }
  }

  /** The stats-encoded (min, max) aggregate of `keys` when they are
    * one stats-tracked column (timestamps as us:-micros, so a prune
    * compares exactly what collectStats wrote); None = no bounds to
    * vote with (one aggregate job when evaluated). [[boundsAt]] reads
    * the result back. */
  private def keyBoundCols(m: Manifest, schema: StructType, keys: Seq[String])
      : Option[Seq[org.apache.spark.sql.Column]] =
    if (keys.size != 1 || !m.statsCols.contains(physOf(m, keys.head))) None
    else {
      import org.apache.spark.sql.functions.{col, max, min}
      val t = schema(keys.head).dataType
      Some(Seq(statsEncode(t, min(col(keys.head))), statsEncode(t, max(col(keys.head)))))
    }

  /** (key, min, max) from [[keyBoundCols]]' values at `r(i)`, `r(i+1)`;
    * None when the aggregated frame held no non-null key. */
  private def boundsAt(keys: Seq[String], r: org.apache.spark.sql.Row, i: Int)
      : Option[(String, String, String)] =
    if (r.isNullAt(i)) None else Some((keys.head, r.getString(i), r.getString(i + 1)))

  /** INSERT OVERWRITE of whole partitions as ONE commit — Delta's
    * `replaceWhere` at partition granularity, the daily re-load
    * shape: yesterday's partition is atomically replaced while the
    * other 364 carry by reference (zero data movement, O(changed)
    * commit metadata). Every row of `df` must fall inside
    * `partitionVals` — a row outside would silently land in a
    * partition this commit does NOT claim to rewrite, so it fails
    * loudly instead. Listing a partition with no matching `df` rows
    * empties it (that is what replace means). Readers of older
    * versions keep the replaced files until [[vacuum]]. */
  def replacePartitions(df: DataFrame, path: String,
                        partitionVals: Seq[Any]): Long = {
    import org.apache.spark.sql.functions.{col, lit, not}
    require(partitionVals.nonEmpty,
      "TxLog.replacePartitions: name at least one partition value")
    val spark = df.sparkSession
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    requireAppendable(m, path, "replacePartitions")
    val pcs = m.partitionCols
    require(pcs.nonEmpty,
      "TxLog.replacePartitions needs a partitioned table (create with partitionCol[s])")
    require(m.partitionSpec.isEmpty,
      "TxLog.replacePartitions: this table uses HIDDEN partitioning " +
        s"(${m.partitionSpec.mkString(", ")}) — partitions have no " +
        "user-facing names; use deleteWhere + append, or mergeInto")
    require(identityColumns(m).isEmpty,
      s"TxLog.replacePartitions: table has IDENTITY column(s) " +
        s"${identityColumns(m).keys.mkString(", ")} — a replace carries " +
        "explicit identity values; delete + append instead")
    checkSchema(StructType.fromDDL(m.schemaDdl), df.schema, evolveSchema = false)
    enforceConstraints(df, m.constraints, "replacePartitions")
    // multi-column layouts name partitions as Seq/tuple values in
    // layout order; single-column keeps the scalar shape
    val tuples = partitionVals.map(asPartitionTuple(pcs, _))
    val replaceDirs = tuples.map(partitionDirPath(physPartCols(m), _)).toSet
    // collision check against what SURVIVES the replace: the named
    // partitions' files are leaving, so only the other files' rows can
    // collide — expressed at FILE level (dirs are exact, no null
    // caveats) and stats-pruned like every other insert probe
    enforceUniques(df, spark, path, StructType.fromDDL(m.schemaDdl),
      m.files.filterNot(f => replaceDirs.contains(dirOf(f))), m,
      "replacePartitions")
    // null-safe tuple membership: a NULL partition value never matches,
    // so it surfaces as a stray instead of silently landing in the
    // default partition unclaimed
    val allowed = tuples.map(t =>
        pcs.zip(t).map { case (c, vv) => col(c) <=> lit(vv) }.reduce(_ && _))
      .reduce(_ || _)
    val stray = df.filter(not(allowed)).select(pcs.map(col): _*)
      .limit(1).collect()
    require(stray.isEmpty,
      s"TxLog.replacePartitions: df contains rows outside the named " +
        s"partitions (found ${pcs.mkString("/")}=${stray.headOption.orNull}); " +
        "either add that value to partitionVals or filter the frame")
    val newFiles = stageIn(toPhysical(df, m.colMap), path, physPartCols(m), transformsOf(m))
    // interleaved appends into the REPLACED partitions conflict via the
    // readSet; appends elsewhere rebase, so the UNIQUE probe re-runs
    // against exactly those landed files (all outside the replace set)
    val cdc = captureCdc(spark, path, m, {
      val declared = StructType.fromDDL(m.schemaDdl)
      val replaced = m.files.filter(f => replaceDirs.contains(dirOf(f)))
      readFiles(spark, path, m, replaced)
        .select(declared.fieldNames.map(col).toIndexedSeq
          :+ lit("delete").as("_change_type"): _*)
        .unionByName(df.select(declared.fieldNames.map(col).toIndexedSeq
          :+ lit("insert").as("_change_type"): _*))
    })
    commitRebase(spark, path, m, rewriteDirs = replaceDirs,
      newFiles = newFiles, schemaDdl = m.schemaDdl, batchId = None,
      readSet = Some(replaceDirs), operation = "REPLACE",
      revalidate = uniqueRebaseProbe(df, spark, path, m, "replacePartitions"),
      cdc = cdc)
  }

  /** Transactional DELETE — the GDPR/right-to-be-forgotten commit,
    * with FILE-granular rewrite economics (Delta's actual MERGE/DELETE
    * shape): one column-pruned discovery scan evaluates `condition`
    * and collects the distinct FILES holding a matching row
    * (file-count-bounded driver set, never data); exactly those files
    * rewrite without their matching rows, every other file — including
    * the rest of the same partition — carries by reference and stays
    * byte-identical on disk. A one-key delete into a partition holding
    * N files rewrites one file, not the partition. Older versions
    * still read the rows until [[vacuum]]. Returns the new version, or
    * the current one when nothing matched.
    *
    * The commit is a protocol-2 delta (`removeFiles`) — see
    * [[ProtocolVersion]]: a reader that would silently resurrect the
    * removed files refuses instead. Works identically on partitioned
    * and unpartitioned tables (the rewrite unit is the file either
    * way). */
  /** `deletionVectors = true` switches the commit from file rewrites
    * to a DELETION VECTOR (Delta's DVs): the matched rows' (file,
    * row_index) pairs land as one small parquet sidecar under `_dv/`
    * and the commit is METADATA-ONLY — a needle delete on a 100 GB
    * file costs kilobytes instead of rewriting the file. Reads
    * anti-join the (delete-sized, AQE-broadcast) DV rows; every
    * snapshot consumer — merges, probes, CDF, compaction — sees the
    * post-delete view through the same seam. OPTIMIZE materializes:
    * its rewrite reads the filtered view, and DV entries whose target
    * file left the manifest prune out of the carried state. DV
    * commits are protocol 2 (a pre-DV reader would resurrect the
    * rows); [[appendsSince]] and the streaming tail refuse across a
    * DV commit (rows changed without a file change — consume the
    * change feed). The rewrite mode stays the default: DVs trade
    * write amplification for a per-read filter, the right trade for
    * SMALL deletes on BIG files. */
  def deleteWhere(spark: SparkSession, path: String,
                  condition: org.apache.spark.sql.Column,
                  deletionVectors: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, lit, not}
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    requireWritable(m, path)
    requireAppendable(m, path, "deleteWhere")
    val schema = StructType.fromDDL(m.schemaDdl)
    // null-safe: a NULL condition row is NOT deleted (SQL DELETE semantics)
    val hit = coalesce(condition, lit(false))
    // declared merge-on-read: the table's own word turns DV mode on
    if (deletionVectors || dvDeclared(m)) {
      // rows to delete, keyed exactly as reads key them — existing DVs
      // already filtered, so a row can never be deleted twice
      // (one table-sized scan total: the sidecar is written first and
      // counted from disk)
      val written = writeDv(spark, path, m,
        readFiles(spark, path, m, m.files, keepDvKey = true).filter(hit))
      if (written.isEmpty) return v
      val (dvName, counts) = written.get
      // BLIND appends never conflict a delete: the delete serializes
      // FIRST (its snapshot never contained the appended rows — the
      // Delta rule). The DV-targeted files must survive (dvLiveFor
      // would silently prune our entries) with unchanged DV state (an
      // overlapping concurrent DV would double-count deleted rows);
      // files added by NON-blind commits conflict — see
      // [[predicateRebaseCheck]].
      val dvTargets = counts.keySet
      // write-time CDC: the deleted rows are the WRITTEN sidecar's
      // positions joined back (never a re-evaluation of `hit` — exact
      // under a non-deterministic condition), scanning only the
      // DV-targeted files
      val cdc = captureCdc(spark, path, m, {
        val sidecar = readDv(spark, Seq(dvPath(path, dvName)))
        val rows = readFiles(spark, path, m, dvTargets.toSeq, keepDvKey = true)
        rows.join(sidecar, rows("_dv_key") === sidecar("f") &&
            rows("_dv_idx").cast("long") === sidecar("row_index"), "left_semi")
          .select(schema.fieldNames.map(col).toIndexedSeq
            :+ lit("delete").as("_change_type"): _*)
      })
      commitRebase(spark, path, m, rewriteDirs = Set.empty, newFiles = Nil,
        schemaDdl = m.schemaDdl, batchId = None, readSet = None,
        operation = "DELETE (DV)", addDv = Seq(dvName -> counts),
        rebaseCheck = Some(predicateRebaseCheck(spark, path, schema,
          dvTargets, "UTC")), cdc = cdc)
    } else {
      val hitFiles = discoverHitFiles(spark, path, m, m.files, _.filter(hit))
      if (hitFiles.isEmpty) return v
      val newFiles = stageIn(
        toPhysical(readFiles(spark, path, m, hitFiles.toSeq)
          .filter(not(hit)), m.colMap),
        path, physPartCols(m), transformsOf(m))
      // file-granular read declaration: the files this delete REWRITES
      // are load-bearing, a BLIND append serializes after the delete
      // (its rows were never in the delete's snapshot), a DV/removal on
      // an un-hit file cannot create matches — and files added by a
      // NON-blind commit conflict ([[predicateRebaseCheck]])
      val cdc = captureCdc(spark, path, m,
        readFiles(spark, path, m, hitFiles.toSeq)
          .filter(hit)
          .select(schema.fieldNames.map(col).toIndexedSeq
            :+ lit("delete").as("_change_type"): _*))
      commitRebase(spark, path, m, rewriteDirs = Set.empty,
        newFiles = newFiles, schemaDdl = m.schemaDdl, batchId = None,
        readSet = None, operation = "DELETE", removeFiles = hitFiles,
        rebaseCheck = Some(predicateRebaseCheck(spark, path, schema,
          hitFiles, "UTC")), cdc = cdc)
    }
  }

  /** Predicate-scoped atomic overwrite — Delta's `replaceWhere` write
    * option, the date-partitioned BACKFILL verb: replace exactly the
    * rows matching `condition` with `df` in ONE commit. Discovery and
    * write economics are the DELETE family's: only the files holding
    * a matching row rewrite (their non-matching survivor rows carry
    * verbatim), every other file carries into the new manifest by
    * reference, and the incoming batch stages beside them — so
    * re-loading one day of a year-partitioned table touches one day's
    * files, never the year.
    *
    * Contract (Delta's): every incoming row MUST satisfy the
    * predicate — rows outside the region would make this not an
    * overwrite OF that region; refused before anything stages. The
    * batch fills DEFAULT/GENERATED columns, allocates IDENTITY, and
    * vets CHECK constraints like an append; UNIQUE keys probe against
    * the POST-replace state (keys that live only inside the replaced
    * region may legitimately re-present — the backfill's whole
    * point). appendOnly refuses (rows are removed). OCC: the DELETE
    * family's predicateRebaseCheck — blind appends serialize after,
    * non-blind interleaved commits conflict. */
  def replaceWhere(df0: DataFrame, path: String,
                   condition: org.apache.spark.sql.Column): Long =
    retryIdentityRace("replaceWhere") {
      import org.apache.spark.sql.functions.{coalesce, col, lit, not}
      val spark = df0.sparkSession
      val v = currentVersion(spark, path).getOrElse(
        throw new IllegalArgumentException(s"TxLog: no table at $path"))
      val m = manifest(spark, path, v)
      requireWritable(m, path)
      requireAppendable(m, path, "replaceWhere")
      val declared = StructType.fromDDL(m.schemaDdl)
      val df1 = fillPolicyColumns(df0, m, declared)
      checkSchema(declared, df1.schema, evolveSchema = false)
      val (df, idClaims) = fillIdentityColumns(df1, m, "replaceWhere")
      val hit = coalesce(condition, lit(false))
      val outside = df.filter(not(hit)).count()
      require(outside == 0,
        s"TxLog.replaceWhere: $outside incoming row(s) do not satisfy " +
          "the predicate — an overwrite of a region must stay inside it")
      enforceConstraints(df, m.constraints, "replaceWhere")
      val hitFiles = discoverHitFiles(spark, path, m, m.files, _.filter(hit))
      // UNIQUE probe against the POST-replace state: untouched files
      // via the standard probe, hit files' SURVIVOR rows via one
      // bounded join (replaced-away keys must not block the backfill)
      enforceUniques(df, spark, path, declared,
        m.files.filterNot(hitFiles.contains), m, "replaceWhere")
      if (hitFiles.nonEmpty && m.uniques.nonEmpty) {
        val survivorRows = readFiles(spark, path, m, hitFiles.toSeq).filter(not(hit))
        m.uniques.foreach { case (name, cols) =>
          val collided = df.select(cols.map(col).toIndexedSeq: _*)
            .join(survivorRows.select(cols.map(col).toIndexedSeq: _*), cols)
            .limit(1).count()
          if (collided > 0) throw new ConstraintViolationException(
            s"TxLog: replaceWhere violates UNIQUE $name — an incoming " +
              "key collides with a surviving row outside the replaced " +
              "region")
        }
      }
      val survivors =
        if (hitFiles.isEmpty) Nil
        else stageIn(
          toPhysical(readFiles(spark, path, m, hitFiles.toSeq)
            .filter(not(hit)), m.colMap),
          path, physPartCols(m), transformsOf(m))
      val incoming = stageIn(toPhysical(df, m.colMap), path,
        physPartCols(m), transformsOf(m))
      // write-time CDC: the replaced region's rows as deletes, the
      // incoming batch as inserts
      val cdc = captureCdc(spark, path, m,
        readFiles(spark, path, m, hitFiles.toSeq)
          .filter(hit)
          .select(declared.fieldNames.map(col).toIndexedSeq
            :+ lit("delete").as("_change_type"): _*)
          .unionByName(df.select(declared.fieldNames.map(col).toIndexedSeq
            :+ lit("insert").as("_change_type"): _*)))
      commitRebase(spark, path, m, rewriteDirs = Set.empty,
        newFiles = survivors ++ incoming, schemaDdl = m.schemaDdl,
        batchId = None, readSet = None, operation = "REPLACE WHERE",
        removeFiles = hitFiles,
        rebaseCheck = Some(predicateRebaseCheck(spark, path, declared,
          hitFiles, "UTC")),
        revalidate = uniqueRebaseProbe(df, spark, path, m, "replaceWhere"),
        idClaims = idClaims, cdc = cdc)
    }

  /** UPDATE ... SET ... WHERE — a FILE-GRANULAR rewrite (Delta's
    * UPDATE): discovery prunes to the files that actually admit a
    * matching row (one snapshot scan through the shared readFiles
    * seam, so DVs and renames apply), ONLY those files rewrite —
    * unmatched rows carry verbatim, matched rows take the SET
    * expressions — and the commit removes exactly the hit files.
    * `set` maps column name → SQL expression over the table's LOGICAL
    * schema; each assignment CASTS to the column's declared type.
    * A NULL condition leaves its row un-updated (SQL semantics).
    * CHECK constraints re-probe the updated row images before any
    * file stages; updating a UNIQUE key column refuses (key identity
    * changes belong to MERGE/applyChanges, which own the collision
    * story). Updated partition / hidden-transform source columns are
    * fine — rewrites restage through the layout, so relocated rows
    * land in their new directories like any other write.
    *
    * With `deletionVectors = true` the update is MERGE-ON-READ: the
    * matched rows DV away (kilobytes of metadata, zero rewrites of
    * the admitting files) and their updated images APPEND — write
    * cost = matched ROWS, never matched files. The matched set
    * MATERIALIZES once (a matched-rows-sized temp parquet) and both
    * the DV sidecar and the appended images derive from it, so a
    * non-deterministic condition can never delete one row set and
    * append another. */
  def updateWhere(spark: SparkSession, path: String,
                  set: Seq[(String, String)],
                  condition: org.apache.spark.sql.Column,
                  deletionVectors: Boolean = false): Long = {
    import org.apache.spark.sql.functions.{coalesce, col, expr, lit, not, when}
    require(set.nonEmpty, "TxLog.updateWhere: empty SET list")
    require(set.map(_._1).distinct.size == set.size,
      s"TxLog.updateWhere: duplicate assignment in ${set.map(_._1).mkString(", ")}")
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    requireWritable(m, path)
    requireAppendable(m, path, "updateWhere")
    val schema = StructType.fromDDL(m.schemaDdl)
    set.foreach { case (c, _) =>
      require(schema.fieldNames.contains(c),
        s"TxLog.updateWhere: no column '$c' in ${m.schemaDdl}")
      require(!identityColumns(m).contains(c),
        s"TxLog.updateWhere: '$c' is GENERATED ALWAYS AS IDENTITY — " +
          "explicit values are refused (the engine assigns them)")
      m.uniques.foreach { case (n, cols) =>
        require(!cols.contains(c),
          s"TxLog.updateWhere: '$c' is part of UNIQUE constraint '$n' — " +
            "key identity changes go through mergeInto/applyChanges")
      }
    }
    val setMap = set.toMap
    val hit = coalesce(condition, lit(false))
    def assigned(df: DataFrame, everyRowMatched: Boolean): DataFrame =
      df.select(schema.fields.map { f =>
        setMap.get(f.name) match {
          case Some(e) =>
            val image = expr(e).cast(f.dataType)
            (if (everyRowMatched) image
             else when(hit, image).otherwise(col(f.name))).as(f.name)
          case None => col(f.name)
        }
      }.toIndexedSeq: _*)
    // write-time CDC: exact pre/postimages of the matched rows
    def updateRecord(pre: DataFrame) = captureCdc(spark, path, m, {
      val cols = schema.fieldNames.map(col).toIndexedSeq
      pre.select(cols :+ lit("update_preimage").as("_change_type"): _*)
        .unionByName(assigned(pre, everyRowMatched = true)
          .select(cols :+ lit("update_postimage").as("_change_type"): _*))
    })
    if (deletionVectors || dvDeclared(m)) {
      // ONE materialization of the matched rows (keys + values): the
      // DV sidecar and the appended images must describe the SAME set
      val tmp = new Path(path,
        s"_tmp_update_${java.util.UUID.randomUUID().toString.take(12)}")
      val fs = fsFor(spark, path)
      try {
        val hitRows = readFiles(spark, path, m, m.files, keepDvKey = true).filter(hit)
        hitRows.write.parquet(tmp.toString)
        // read back with the schema just written: no inference job
        val matched = spark.read.schema(hitRows.schema).parquet(tmp.toString)
        val images = assigned(matched, everyRowMatched = true)
        enforceConstraints(images, m.constraints, "updateWhere")
        // no sidecar = nothing matched: writeDv counts what it wrote
        val (dvName, counts) = writeDv(spark, path, m, matched).getOrElse(return v)
        val staged = stageIn(toPhysical(images, m.colMap), path,
          physPartCols(m), transformsOf(m))
        // same read declaration as DELETE (DV): the update serializes
        // before any BLIND append; the DV targets are load-bearing and
        // non-blind adds conflict ([[predicateRebaseCheck]]). The CDC
        // record derives from the ONE materialized matched set: no key
        // join, no condition re-evaluation
        commitRebase(spark, path, m, rewriteDirs = Set.empty,
          newFiles = staged, schemaDdl = m.schemaDdl, batchId = None,
          readSet = None, operation = "UPDATE (DV)",
          addDv = Seq(dvName -> counts),
          rebaseCheck = Some(predicateRebaseCheck(spark, path, schema,
            counts.keySet, "UTC")), cdc = updateRecord(matched))
      } finally fs.delete(tmp, true)
    } else {
      val hitFiles = discoverHitFiles(spark, path, m, m.files, _.filter(hit))
      if (hitFiles.isEmpty) return v
      val snap = readFiles(spark, path, m, hitFiles.toSeq)
      enforceConstraints(assigned(snap.filter(hit), everyRowMatched = true),
        m.constraints, "updateWhere")
      val newFiles = stageIn(
        toPhysical(assigned(snap, everyRowMatched = false), m.colMap),
        path, physPartCols(m), transformsOf(m))
      // file-granular read declaration, identical to DELETE's: blind
      // appends serialize after the update, hit files and non-blind
      // adds conflict ([[predicateRebaseCheck]])
      commitRebase(spark, path, m, rewriteDirs = Set.empty,
        newFiles = newFiles, schemaDdl = m.schemaDdl, batchId = None,
        readSet = None, operation = "UPDATE", removeFiles = hitFiles,
        rebaseCheck = Some(predicateRebaseCheck(spark, path, schema,
          hitFiles, "UTC")), cdc = updateRecord(snap.filter(hit)))
    }
  }

  // ------------------------------------------------------------------
  // Write-time CDC capture (graft.changeDataFeed) — the Delta
  // enableChangeDataFeed shape: row-changing verbs stage their change
  // record at commit time; [[changeFeed]] serves it keylessly, reading
  // O(changed rows) per version instead of two snapshot scans
  // ------------------------------------------------------------------

  private def cdcDir(path: String) = new Path(path, "_change_data")

  private[graft] def cdfDeclared(m: Manifest): Boolean =
    propsOf(m).get(ChangeDataFeedProp).exists(_.equalsIgnoreCase("true"))

  /** Stage a commit's row-level change record under `_change_data/`
    * (one uuid dir per commit) and return the staged file names for
    * the commit node — or None when the table has not declared
    * `graft.changeDataFeed` (the by-name frame is never even built, so
    * capture is free on undeclared tables). The frame carries the
    * table's LOGICAL columns + `_change_type`; it stages in PHYSICAL
    * names (the data files' convention), so a later RENAME COLUMN
    * stays metadata-only for the feed too. Staging happens BEFORE the
    * commit that references it: a crash leaves an orphan dir (swept by
    * vacuum behind the stale-write age guard), never a commit whose
    * change record is missing.
    *
    * Determinism posture: the MERGE-ON-READ modes derive their record
    * from the materialized matched set / the written DV sidecar —
    * exact under non-deterministic predicates; the REWRITE modes
    * re-evaluate the predicate for the record, the same documented
    * posture those operators already take for the rewrite itself
    * (deterministic conditions — the overwhelming case — are exact
    * everywhere). */
  private def captureCdc(spark: SparkSession, path: String, m: Manifest,
                         frame: => DataFrame): Option[Seq[String]] =
    if (!cdfDeclared(m)) None
    else {
      val id = java.util.UUID.randomUUID().toString.take(12)
      val dir = new Path(cdcDir(path), id)
      toPhysical(frame, m.colMap).write.parquet(dir.toString)
      val fs = fsFor(spark, path)
      Some(fs.listStatus(dir)
        .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .map(s => s"$id/${s.getPath.getName}").toSeq.sorted)
    }

  /** Keyless, O(changed rows) change feed from write-time capture —
    * the door [[changes]]' snapshot diff cannot be: it serves tables
    * with NO unique row identity (duplicate rows included — the
    * reference's own `no_gwas_result` audit shape,
    * R/gwas_ddl.sql:66-75), and it reads only each commit's own change
    * record, never two whole-table snapshots per window.
    *
    * One row per change EVENT in `(fromVersion, toVersion]`, in the
    * end version's logical schema plus `_change_type` ∈ insert |
    * delete | update_preimage | update_postimage (updates always
    * carry EXACT pre/postimages — no key join approximates them),
    * `_commit_version` and `_commit_timestamp`. Event semantics
    * (Delta's CDF contract): a row inserted then deleted inside the
    * window shows both events; [[changes]] keeps the net-diff
    * semantics for keyed consumers.
    *
    * Per-version sourcing: a commit with a captured record serves it
    * verbatim; a pure append (and the CREATE/CONVERT/CLONE full
    * commit) serves its added files as inserts — appends need no
    * sidecar; a REF commit (RESTORE) synthesizes its record O(changed
    * files) from the manifest diff — removed files' live rows as
    * deletes, (re-)added files' as inserts, DV deltas on shared files
    * as row flips — so the feed reads THROUGH a restore (Delta's CDF
    * posture) instead of refusing; OPTIMIZE/compaction commits change
    * no rows and are skipped; metadata commits are skipped. A
    * row-changing commit with NO record (committed before
    * `graft.changeDataFeed` was declared) refuses loudly — serving a
    * guess would corrupt every downstream replica. Columns match
    * across renames by PHYSICAL identity, schema evolution pads typed
    * nulls (the [[changes]] alignment rules).
    *
    * Plan shape at scale: versions GROUP BY SCHEMA ERA (identical
    * schemaDdl + colMap + partitionSpec), one scan per (era, kind) —
    * all of an era's record files in one scan with the commit stamps
    * joined back from the record's own uuid directory, all of an
    * era's added files in one scan with stamps joined from the file
    * suffix — so a 10^4-version backfill window plans a handful of
    * scans, never a 10^4-way union. */
  def changeFeed(spark: SparkSession, path: String, fromVersion: Long,
                 toVersion: Long): DataFrame = {
    import org.apache.spark.sql.functions.{broadcast, col, input_file_name, lit, regexp_extract}
    require(fromVersion <= toVersion,
      s"TxLog.changeFeed: fromVersion $fromVersion is past toVersion " +
        s"$toVersion — the feed runs forward only")
    val mTarget = manifest(spark, path, toVersion)
    val target = StructType.fromDDL(mTarget.schemaDdl)
    val outSchema = StructType(target.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("_commit_timestamp",
        org.apache.spark.sql.types.TimestampType)))
    // classify every version in the window (metadata-only walk).
    // `dv` rides only on full-manifest commits that carry one (a
    // shallow CLONE of a DV-bearing source): its initial inserts are
    // the LIVE rows, so the synthesis scan must read through the
    // cloned DV state. Plain appends' files carry no DV at birth.
    // `dels`/`delDv` are a REF commit's (RESTORE) removed files — the
    // rolled-back side's live rows emit as deletes; `flips` carries
    // the ref commit's DV deltas on files present on BOTH sides
    // (row-position set differences resolve at scan time).
    final case class DvFlip(prevDv: Seq[(String, Map[String, Long])],
                            tgtDv: Seq[(String, Map[String, Long])],
                            entries: Seq[String])
    final case class Src(v: Long, tsMs: Option[Long], record: Seq[String],
                         adds: Seq[String],
                         dv: Seq[(String, Map[String, Long])] = Nil,
                         dels: Seq[String] = Nil,
                         delDv: Seq[(String, Map[String, Long])] = Nil,
                         flips: Option[DvFlip] = None)
    val sources: Seq[Src] = ((fromVersion + 1) to toVersion).flatMap { v =>
      val node = readCommitNode(spark, path, v)
      val op = Option(node.get("operation")).map(_.asText()).getOrElse("")
      val tsMs = Option(node.get("ts")).map(_.asLong())
      def arr(field: String): Seq[String] =
        Option(node.get(field)).toSeq.flatMap(a =>
          (0 until a.size()).map(a.get(_).asText()))
      def addFiles: Seq[String] =
        Option(node.get("add")).toSeq.flatMap(a =>
          (0 until a.size()).map(a.get(_).get("f").asText()))
      if (node.has("cdc")) {
        val names = arr("cdc")
        if (names.isEmpty) None else Some(Src(v, tsMs, names, Nil))
      } else if (node.has("baseRef")) {
        // a ref commit (RESTORE) moves ZERO data — its row-level
        // change record is synthesizable O(changed files) by diffing
        // the rolled-back head's manifest against the restored one:
        // files only in the head emit their live rows as deletes,
        // files only in the target as inserts, and a DV delta on a
        // file present on BOTH sides flips exactly the rows whose
        // deleted-position sets differ (un-deleted rows re-insert,
        // newly-covered rows delete). Same Delta-CDF-through-RESTORE
        // semantics the keyed [[changes]] door already serves.
        val prevM = manifest(spark, path, v - 1)
        val tgtM = manifest(spark, path, v)
        val prevSet = prevM.files.toSet
        val tgtSet = tgtM.files.toSet
        val added = tgtM.files.filterNot(prevSet)
        val removed = prevM.files.filterNot(tgtSet)
        val shared = prevSet.intersect(tgtSet)
        // per shared entry: the DV files referencing it on each side —
        // identical references = identical deleted positions (DV
        // parquets are immutable), so only reference-drifted entries
        // need a row-level resolve
        def refsOf(m: Manifest): Map[String, Set[String]] =
          m.dv.flatMap { case (f, e) =>
            e.keys.filter(shared).map(_ -> f)
          }.groupBy(_._1).map { case (k, fs) => k -> fs.map(_._2).toSet }
        val pRefs = refsOf(prevM)
        val tRefs = refsOf(tgtM)
        val drifted = (pRefs.keySet ++ tRefs.keySet).filter(k =>
          pRefs.getOrElse(k, Set.empty) != tRefs.getOrElse(k, Set.empty))
          .toSeq.sorted
        val flips =
          if (drifted.isEmpty) None
          else Some(DvFlip(
            dvLiveFor(prevM.dv, drifted.toSet),
            dvLiveFor(tgtM.dv, drifted.toSet), drifted))
        if (added.isEmpty && removed.isEmpty && flips.isEmpty) None
        else Some(Src(v, tsMs, Nil,
          added, dvLiveFor(tgtM.dv, added.toSet),
          removed, dvLiveFor(prevM.dv, removed.toSet), flips))
      } else if (node.has("files")) {
        // CLONE is a full-manifest commit whose files are, like
        // CREATE/CONVERT, exactly the table's initial inserts — a
        // keyless feed on a cloned table starts from version 0 (its
        // LIVE rows: a shallow clone of a DV-bearing source reads
        // through the cloned DV state)
        if (op == "CREATE" || op == "CONVERT" || op.startsWith("CLONE"))
          Some(Src(v, tsMs, Nil, arr("files"), manifest(spark, path, v).dv))
        else throw new UnsupportedOperationException(
          s"TxLog.changeFeed: v$v at $path ($op) replaced the table with " +
            "no change record — declare graft.changeDataFeed=true before " +
            "overwrites, or read through TxLog.changes with keys")
      } else {
        val rowChanging = arr("removeDirs").nonEmpty ||
          arr("removeFiles").nonEmpty || op.endsWith("(DV)")
        if (op.startsWith("OPTIMIZE")) None // rewrite, zero row change
        else if (!rowChanging) {
          val adds = addFiles
          if (adds.isEmpty) None // metadata-only commit
          else Some(Src(v, tsMs, Nil, adds))
        } else throw new UnsupportedOperationException(
          s"TxLog.changeFeed: v$v at $path ($op) changed rows with no " +
            "change record — it committed before graft.changeDataFeed was " +
            "declared; read through TxLog.changes with keys, or start the " +
            "feed after the declaration")
      }
    }
    import spark.implicits._
    def tsLit(tsMs: Option[Long]) =
      tsMs.map(t => new java.sql.Timestamp(t)).orNull
    def alignToTarget(df: DataFrame,
                      logicalOf: String => String): Seq[org.apache.spark.sql.Column] =
      target.fields.map { tf =>
        val vName = logicalOf(tf.name)
        if (df.columns.contains(vName)) col(vName).cast(tf.dataType).as(tf.name)
        else lit(null).cast(tf.dataType).as(tf.name)
      }.toIndexedSeq
    def eraKey(v: Long): (String, Seq[(String, String)], Seq[String]) = {
      val mv = manifest(spark, path, v)
      (mv.schemaDdl, mv.colMap, mv.partitionSpec)
    }
    // record scans: one per schema era; each record row finds its
    // commit stamps through the uuid directory the capture staged it
    // under (a broadcast uuid -> (version, ts) map, never a per-version
    // plan branch)
    val recordFrames = sources.filter(_.record.nonEmpty).groupBy(s => eraKey(s.v))
      .values.toSeq.sortBy(_.head.v).map { group =>
      val stamps = group.flatMap(s => s.record.map(_.split('/').head)
        .distinct.map(u => (u, s.v, tsLit(s.tsMs))))
        .toDF("_cdc_dir", "_commit_version", "_commit_timestamp")
      val raw = spark.read.parquet(group.flatMap(_.record)
        .map(n => new Path(cdcDir(path), n).toString): _*)
      raw
        .withColumn("_cdc_dir",
          regexp_extract(input_file_name(), "_change_data/([^/]+)/", 1))
        .join(broadcast(stamps), "_cdc_dir")
        .select(alignToTarget(raw, n => physOf(mTarget, n))
          :+ col("_change_type") :+ col("_commit_version")
          :+ col("_commit_timestamp"): _*)
    }
    // file-lane synthesis (inserts from adds, deletes from a ref
    // commit's removed files): one scan per (schema era, DV state)
    // over the union of the lane's files; each row finds its commit
    // stamps through its file's data-root-relative suffix (the
    // _dv_key column readFiles computes — the same identity the
    // manifests use). A restore can re-add a file another commit
    // already added inside the window: the scan list dedups, the
    // stamps keep one row per (version, file), and the stamp join
    // fans each scanned row out to one event per commit — exactly the
    // event semantics the feed contracts.
    def synthLane(lane: Src => Seq[String],
                  dvOf: Src => Seq[(String, Map[String, Long])],
                  eraV: Long => Long, kind: String): Seq[DataFrame] =
      sources.filter(s => lane(s).nonEmpty)
        .groupBy(s => (eraKey(eraV(s.v)), dvOf(s)))
        .values.toSeq.sortBy(_.head.v).map { group =>
      val mv = manifest(spark, path, eraV(group.head.v))
      val vSchema = StructType.fromDDL(mv.schemaDdl)
      // the scan's _dv_key comes from input_file_name (URI-encoded);
      // manifest entries are raw — stamp BOTH spellings so a partition
      // value needing encoding can never silently drop its rows
      // (the entryResolver two-form rule)
      val stamps = group.flatMap(s => lane(s).flatMap { f =>
          val raw = relEntry(f)
          val enc = new java.net.URI(null, null, "/" + raw, null)
            .getRawPath.stripPrefix("/")
          Seq(raw, enc).distinct.map(k => (k, s.v, tsLit(s.tsMs)))
        })
        .toDF("_dv_key", "_commit_version", "_commit_timestamp")
      // appended files carry no DV at their birth commit (dv = Nil);
      // a CLONE's (or a restore endpoint's) rode in on its Src so the
      // lane's live rows scan through that side's DV state
      val df = readFiles(spark, path, mv.copy(dv = dvOf(group.head)),
        group.flatMap(lane).distinct, keepDvKey = true)
      // LEFT join + in-plan guard: a scan key neither stamp spelling
      // matched would otherwise DROP its rows silently — fail loud
      // instead (costs nothing: a codegen'd null check, no extra pass)
      df.join(broadcast(stamps), Seq("_dv_key"), "left")
        .select(alignToTarget(df, { n =>
            val phys = physOf(mTarget, n)
            mv.colMap.find(_._2 == phys).map(_._1).getOrElse(phys)
          })
          :+ lit(kind).as("_change_type")
          :+ org.apache.spark.sql.functions.when(
              col("_commit_version").isNull,
              org.apache.spark.sql.functions.raise_error(
                org.apache.spark.sql.functions.concat(
                  lit(s"TxLog.changeFeed: scan file key "), col("_dv_key"),
                  lit(" maps to no commit in the window at " + path))))
            .otherwise(col("_commit_version")).as("_commit_version")
          :+ col("_commit_timestamp"): _*)
    }
    val insertFrames = synthLane(_.adds, _.dv, identity, "insert")
    val deleteFrames = synthLane(_.dels, _.delDv, _ - 1, "delete")
    // DV-flip synthesis: a ref commit whose endpoints share a file but
    // disagree on its deletion vector flips EXACTLY the rows whose
    // positions sit in one side's DV and not the other's. One full
    // scan of the drifted entries (positions kept) classified against
    // the two delete-position sets — O(affected files), never a table
    // scan. The semi-joins broadcast the position sets only while the
    // manifests' per-entry counts price them under
    // graft.txlog.dvBroadcastMaxRows (the same budget the batch mount
    // applies before collecting a DV map): a restore crossing a DV
    // commit that covered 10^7-10^8 rows would otherwise hand the
    // whole position set to the driver as a FORCED broadcast (r17
    // verdict #1) — above budget the hint is dropped and the
    // left-semi plans as a distributed join (AQE still broadcasts
    // genuinely small sides on its own). Rare lane: it plans per ref
    // commit, and only when DV references drifted.
    val flipFrames = sources.filter(_.flips.nonEmpty).flatMap { s =>
      val fl = s.flips.get
      val flipDvRows = (fl.prevDv.iterator ++ fl.tgtDv.iterator)
        .map(_._2.valuesIterator.sum).sum
      val positionHint: DataFrame => DataFrame =
        if (flipDvRows <=
            graft.sources.TxLogBatch.dvBroadcastMaxRows(spark)) broadcast
        else identity
      val mv = manifest(spark, path, s.v)
      val vSchema = StructType.fromDDL(mv.schemaDdl)
      val entryKeys = fl.entries.flatMap { f =>
        val raw = relEntry(f)
        val enc = new java.net.URI(null, null, "/" + raw, null)
          .getRawPath.stripPrefix("/")
        Seq(raw, enc).distinct
      }.distinct
      val entriesDf = broadcast(entryKeys.toDF("_dv_key"))
      def posOf(dv: Seq[(String, Map[String, Long])]): DataFrame =
        if (dv.isEmpty)
          spark.emptyDataFrame
            .select(lit("").as("_dv_key"), lit(0L).as("_dv_idx")).limit(0)
        else readDv(spark, dv.map { case (f, _) => dvPath(path, f) })
          .select(col("f").as("_dv_key"), col("row_index").as("_dv_idx"))
          // a DV parquet can cover entries outside the drifted set —
          // restrict before the position-set difference
          .join(entriesDf, Seq("_dv_key"), "left_semi")
      val pPos = posOf(fl.prevDv)
      val tPos = posOf(fl.tgtDv)
      val scan = readFiles(spark, path, mv.copy(dv = Nil), fl.entries,
        keepDvKey = true)
      def emit(pos: DataFrame, kind: String): DataFrame =
        scan.join(positionHint(pos), Seq("_dv_key", "_dv_idx"), "left_semi")
          .select(alignToTarget(scan, { n =>
              val phys = physOf(mTarget, n)
              mv.colMap.find(_._2 == phys).map(_._1).getOrElse(phys)
            })
            :+ lit(kind).as("_change_type")
            :+ lit(s.v).as("_commit_version")
            :+ lit(tsLit(s.tsMs)).cast("timestamp").as("_commit_timestamp"): _*)
      Seq(
        emit(pPos.except(tPos), "insert"), // un-deleted by the restore
        emit(tPos.except(pPos), "delete")) // re-deleted by the restore
    }
    val frames = recordFrames ++ insertFrames ++ deleteFrames ++ flipFrames
    if (frames.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], outSchema)
    else frames.reduce(_ unionByName _)
  }

  /** Change data feed between two committed versions — the row-level
    * diff a downstream incremental consumer applies instead of
    * re-reading the table: one row per changed key with
    * `_change_type` ∈ insert | update | delete, carrying the NEW values
    * for inserts/updates and the LAST values for deletes. Unchanged
    * keys are absent. `keys` must be unique per version (the merge
    * contract this storage layer already enforces on its writers).
    *
    * Works across schema evolution: both snapshots align to the NEWER
    * version's schema (older files surface typed nulls for columns
    * they predate), so a column added between the versions reads as a
    * change only where a row's values actually differ.
    *
    * Scale: one equi-shuffle per side on `keys` into a full outer
    * join; comparison is a null-safe struct equality over the non-key
    * columns — no driver hop, no data-sized collect. */
  /** With `withPreimages = true`, every updated key emits TWO rows —
    * `update_preimage` (the old values) and `update_postimage` (the
    * new) — instead of one `update` row: the shape an INCREMENTAL
    * AGGREGATE consumer needs (subtract the before, add the after;
    * see [[Mv]]), and the same contract Delta's CDF documents. */
  def changes(spark: SparkSession, path: String, fromVersion: Long,
              toVersion: Long, keys: Seq[String],
              withPreimages: Boolean = false): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, lit, not, struct, typedlit, when}
    require(fromVersion != toVersion,
      s"TxLog.changes: identical versions $fromVersion")
    require(keys.nonEmpty, "TxLog.changes needs at least one key column")
    val mTarget = manifest(spark, path, math.max(fromVersion, toVersion))
    val target = StructType.fromDDL(mTarget.schemaDdl)
    // columns match across versions by PHYSICAL identity, so a rename
    // between the endpoints produces ZERO spurious updates: the data
    // never moved, only its logical name did
    def aligned(v: Long): DataFrame = {
      val mv = manifest(spark, path, v)
      val df = read(spark, path, Some(v))
      df.select(target.fields.map { tf =>
        val phys = physOf(mTarget, tf.name)
        val vLogical = mv.colMap.find(_._2 == phys).map(_._1).getOrElse(phys)
        if (df.columns.contains(vLogical)) col(vLogical).as(tf.name)
        else lit(null).cast(tf.dataType).as(tf.name)
      }.toIndexedSeq: _*)
    }
    val nonKey = target.fieldNames.filterNot(keys.contains).toSeq
    // r16 fast path: a FORWARD single-commit window over a feed-servable
    // commit diffs the commit's OWN change record instead of two whole
    // snapshots — O(changed rows), the version-granular shape every
    // incremental consumer (Mv, the streaming CDC relay) actually
    // reads. The record's old/new subsets feed the SAME diff core the
    // snapshots would, so semantics are identical: untouched keys are
    // in neither subset, a no-op update (or a delete+identical
    // reinsert) compares equal and drops, a key-moving update
    // surfaces as delete+insert. Any refusal (uncaptured row change,
    // RESTORE) falls back to the snapshot diff.
    val recordSides: Option[(DataFrame, DataFrame)] =
      if (toVersion != fromVersion + 1) None
      else try {
        val feed = changeFeed(spark, path, fromVersion, toVersion)
        Some((
          feed.filter(col("_change_type").isin("delete", "update_preimage"))
            .select(target.fieldNames.map(col).toIndexedSeq: _*),
          feed.filter(col("_change_type").isin("insert", "update_postimage"))
            .select(target.fieldNames.map(col).toIndexedSeq: _*)))
      } catch { case _: UnsupportedOperationException => None }
    val (oBase, nBase) = recordSides
      .getOrElse((aligned(fromVersion), aligned(toVersion)))
    val o = oBase
      .select(keys.map(col) ++ nonKey.map(c => col(c).as(s"_o_$c"))
        :+ lit(true).as("_o_present"): _*)
    val n = nBase
      .select(keys.map(col) ++ nonKey.map(c => col(c).as(s"_n_$c"))
        :+ lit(true).as("_n_present"): _*)
    val joined = o.join(n, keys, "full_outer")
    val base =
      when(col("_o_present").isNull, "insert")
        .when(col("_n_present").isNull, "delete")
    // an all-key table has no values to differ on — only insert/delete
    val changeType =
      if (nonKey.isEmpty) base
      else base.when(not(struct(nonKey.map(c => col(s"_o_$c")): _*) <=>
        struct(nonKey.map(c => col(s"_n_$c")): _*)), "update")
    val marked = joined
      .withColumn("_change_type", changeType)
      .filter(col("_change_type").isNotNull)
    // an all-key table has no update rows, so preimages change nothing
    if (!withPreimages || nonKey.isEmpty)
      marked.select(keys.map(col) ++ nonKey.map(c =>
        when(col("_change_type") === "delete", col(s"_o_$c"))
          .otherwise(col(s"_n_$c")).as(c))
        :+ col("_change_type"): _*)
    else
      // updates fan out to (preimage, postimage) via a two-element
      // explode; inserts/deletes stay single rows — still one pass,
      // no second join
      marked
        .select(keys.map(col) :+ explode(
          when(col("_change_type") === "update", typedlit(Seq("update_preimage", "update_postimage")))
            .otherwise(org.apache.spark.sql.functions.array(col("_change_type"))))
          .as("_change_type")
          :+ struct(nonKey.map(c => col(s"_o_$c").as(c)): _*).as("_o")
          :+ struct(nonKey.map(c => col(s"_n_$c").as(c)): _*).as("_n"): _*)
        .select(keys.map(col) ++ nonKey.map(c =>
          when(col("_change_type").isin("delete", "update_preimage"),
            col(s"_o.$c")).otherwise(col(s"_n.$c")).as(c))
          :+ col("_change_type"): _*)
  }

  /** RESTORE — roll the table back to a prior version AS A NEW COMMIT
    * (the Delta `RESTORE TABLE … TO VERSION` shape): the new manifest
    * simply references `toVersion`'s exact files and schema, so the
    * rollback moves ZERO data bytes regardless of table size and is as
    * atomic as any other commit. The undone versions stay readable via
    * time travel until [[vacuum]]; the streaming-ingest watermark
    * carries forward from the CURRENT version (not the restored one),
    * so a replayed micro-batch is still detected after a rollback.
    * Returns the new version. */
  def restore(spark: SparkSession, path: String, toVersion: Long): Long =
    restoreImpl(spark, path, toVersion, gateAppendOnly = true)

  /** [[Txn]]'s compensation door: rolling back a table whose head is
    * still the FAILED transaction's own commit is mandatory rollback
    * of an incomplete transaction, not deletion of protected rows —
    * the one restore the appendOnly gate must not refuse (a refusal
    * would abort compensation half-way and strand the journal). */
  private[storage] def restoreCompensating(spark: SparkSession, path: String,
                                           toVersion: Long): Long =
    restoreImpl(spark, path, toVersion, gateAppendOnly = false)

  private def restoreImpl(spark: SparkSession, path: String, toVersion: Long,
                          gateAppendOnly: Boolean): Long = {
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    require(toVersion <= cur, s"TxLog.restore: v$toVersion is not committed (head v$cur)")
    val head = manifest(spark, path, cur)
    requireWritable(head, path)
    if (gateAppendOnly)
      requireAppendable(head, path, "restore (a rollback drops rows " +
        "appended since the target version)")
    val target = manifest(spark, path, toVersion)
    val ts = clampedTs(head)
    // restoring a constrained version re-raises the gate; never lowered
    val minWriter = math.max(head.minWriter,
      if (target.constraints.nonEmpty || target.uniques.nonEmpty) 2 else 1)
    // a REF commit: O(1) bytes — the rollback moves zero data AND
    // zero metadata regardless of table size
    writeRef(spark, path, cur + 1, target.partitionCols, target.schemaDdl,
      head.sourceBatchId, target.statsCols, target.constraints,
      target.uniques, operation = s"RESTORE TO v$toVersion",
      baseRef = toVersion, ts = ts, minWriter = minWriter,
      txns = head.txns,
      colMap = target.colMap, dv = target.dv,
      partitionSpec = target.partitionSpec)
    val resolved = target.copy(version = cur + 1,
      sourceBatchId = head.sourceBatchId, ts = Some(ts), minWriter = minWriter,
      txns = head.txns)
    cachePut(spark, path, resolved)
    maybeCheckpoint(spark, path, resolved)
    cur + 1
  }

  /** Apply a change feed produced by [[changes]] to ANOTHER table —
    * the consumer side of CDC: a replica ingests the row-level diff
    * instead of re-reading the source. Inserts/updates merge (updates
    * win on key collision), deletes drop their keys, and the whole
    * feed lands as ONE atomic version with [[mergeWhen]]'s economics:
    * only files holding a changed or deleted key (old OR new location)
    * rewrite; everything else carries by reference. The clause set
    * over the engine: `WHEN MATCHED AND src._change_type = 'delete'
    * THEN DELETE`, `WHEN MATCHED AND src._change_type IN ('insert',
    * 'update') THEN UPDATE SET c = src.c` for every table column, and
    * `WHEN NOT MATCHED AND src._change_type IN ('insert', 'update')
    * THEN INSERT *` — `_change_type` is visible to the conditions only,
    * and a delete of an absent key is no event.
    *
    * The feed must carry one row per key (what [[changes]] emits —
    * guarded by the same bounded eager probe as the merge operators;
    * `preValidated = true` skips it) with the table's full column set
    * plus `_change_type`. Applying `changes(src, a, b)` to a replica
    * of version a reproduces version b exactly (spec-pinned). */
  def applyChanges(path: String, feed: DataFrame, keys: Seq[String],
                   preValidated: Boolean = false,
                   txn: Option[(String, Long)] = None): Long = {
    val spark = feed.sparkSession
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    // per-app idempotency lane: a replayed feed window skips whole
    if (txn.exists { case (a, tv) => m.txns.get(a).exists(_ >= tv) }) return v
    requireWritable(m, path)
    requireAppendable(m, path,
      "applyChanges (a CDC feed updates and deletes rows)")
    require(identityColumns(m).isEmpty,
      s"TxLog.applyChanges: table has IDENTITY column(s) " +
        s"${identityColumns(m).keys.mkString(", ")} — a CDC feed carries " +
        "explicit id values; a REPLICA of an identity table should not " +
        "re-declare IDENTITY (the source already allocated)")
    require(m.partitionCols.nonEmpty,
      "TxLog.applyChanges needs a partitioned table (create with partitionCol[s])")
    val declared = StructType.fromDDL(m.schemaDdl)
    require(feed.columns.contains("_change_type"),
      "TxLog.applyChanges: feed must carry _change_type (see TxLog.changes)")
    declared.fieldNames.foreach(c => require(feed.columns.contains(c),
      s"TxLog.applyChanges: feed is missing table column '$c'"))
    val upsert = Some("src._change_type IN ('insert', 'update')")
    mergeClauses(MergeEntry("applyChanges", "APPLY CHANGES", "feed"), path, m,
      feed, keys,
      matched = Seq(MergeClause(Some("src._change_type = 'delete'"), "delete"),
        MergeClause(upsert, "update", setAll(declared.fieldNames.toSeq))),
      notMatched = Seq(MergeClause(upsert, "insert")), notMatchedBySource = Nil,
      deletionVectors = false, txn, evolveSchema = false, preValidated)
  }

  /** [[applyChanges]]' KEYLESS sibling — the consumer for the
    * write-time-capture EVENT feed ([[changeFeed]]) on tables with NO
    * unique row identity (duplicate rows included — the reference's
    * `no_gwas_result` audit shape). Closes the keyless replication
    * loop: `changeFeed` produces, this applies.
    *
    * MULTISET semantics, one atomic commit: the window's events net
    * out per FULL ROW (insert/update_postimage +1, delete/
    * update_preimage −1 — intra-window churn cancels, so replaying
    * `changeFeed(a, b)` onto a replica of version a reproduces
    * version b's row multiset exactly, restores included). Positive
    * net appends that many copies; negative net lands as DELETION
    * VECTORS on the first |net| live occurrences in (file, position)
    * order — arbitrary among identical rows (they are
    * indistinguishable) but deterministic, and O(changed rows): no
    * partition or table rewrite. A feed that deletes rows the replica
    * does not hold refuses LOUDLY (replica drift must never be
    * papered over by skipping events).
    *
    * Scale: the net aggregation and the occurrence match shuffle on
    * the full row — changed-rows-sized on the feed side; the
    * occurrence window partitions by the row VALUE, bounded by a
    * value's duplicate multiplicity, never the corpus. */
  def applyChangeEvents(path: String, feed: DataFrame,
                        txn: Option[(String, Long)] = None): Long = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val spark = feed.sparkSession
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    if (txn.exists { case (a, tv) => m.txns.get(a).exists(_ >= tv) }) return v
    requireAppendable(m, path,
      "applyChangeEvents (a CDC event feed deletes rows)")
    require(identityColumns(m).isEmpty,
      "TxLog.applyChangeEvents: a replica of an identity table should " +
        "not re-declare IDENTITY (the source already allocated)")
    val declared = StructType.fromDDL(m.schemaDdl)
    require(feed.columns.contains("_change_type"),
      "TxLog.applyChangeEvents: feed must carry _change_type " +
        "(see TxLog.changeFeed)")
    declared.fieldNames.foreach(c => require(feed.columns.contains(c),
      s"TxLog.applyChangeEvents: feed is missing table column '$c'"))
    val cols = declared.fieldNames.toSeq
    val w = when(col("_change_type").isin("insert", "update_postimage"),
        lit(1L))
      .when(col("_change_type").isin("delete", "update_preimage"), lit(-1L))
    val typed = feed.select(cols.map(col) :+ w.as("_w"): _*)
    require(typed.filter(col("_w").isNull).limit(1).collect().isEmpty,
      "TxLog.applyChangeEvents: unknown _change_type in the feed — " +
        "expected insert | delete | update_preimage | update_postimage")
    // net multiset effect per full row; cut so the (possibly
    // expensive) feed plan evaluates once across the phases below
    val grouped = graft.operators.Checkpoints.cut(
      typed.groupBy(cols.map(col): _*).agg(sum("_w").as("_net"))
        .filter(col("_net") =!= 0L))
    val addRows = grouped.filter(col("_net") > 0)
      .select(cols.map(col)
        :+ explode(sequence(lit(1L), col("_net"))).as("_i"): _*)
      .select(cols.map(col): _*)
    enforceConstraints(addRows, m.constraints, "applyChangeEvents inserts")
    val removals = grouped.filter(col("_net") < 0)
      .select(cols.map(c => col(c).as(s"_r_$c")) :+ (-col("_net")).as("_need"): _*)
    val needTotal = removals.agg(coalesce(sum("_need"), lit(0L)))
      .head().getLong(0)
    val haveAdds = addRows.limit(1).collect().nonEmpty
    if (needTotal == 0L && !haveAdds)
      return sealNoopTxn(spark, path, m, txn, "APPLY CHANGES (KEYLESS)")
    // match removals to concrete LIVE occurrences, first-N per row in
    // (file, position) order
    val withPos = readFiles(spark, path, m, m.files, keepDvKey = true)
    val cond = cols.map(c => withPos(c) <=> col(s"_r_$c")).reduce(_ && _)
    val ow = Window.partitionBy(cols.map(c => col(s"_r_$c")): _*)
      .orderBy(col("_dv_key"), col("_dv_idx"))
    val picked = withPos.join(removals, cond, "inner")
      .withColumn("_rn", row_number().over(ow))
      .filter(col("_rn") <= col("_need"))
    val (addDv, cdcDeleteSrc) =
      if (needTotal == 0L) (Nil: Seq[(String, Map[String, Long])], None)
      else {
        val written = writeDv(spark, path, m, picked)
        val pickedTotal = written.map(_._2.values.sum).getOrElse(0L)
        require(pickedTotal == needTotal, {
          written.foreach { case (dvName, _) =>
            fsFor(spark, path).delete(new Path(dvPath(path, dvName)), true) }
          s"TxLog.applyChangeEvents: the feed deletes $needTotal row " +
            s"occurrence(s) but the replica holds only $pickedTotal " +
            "matching live row(s) — the replica has drifted from the " +
            "feed's source; refuse loudly rather than skip events"
        })
        (written.toSeq, written.map(_._1))
      }
    val newFiles =
      if (!haveAdds) Nil
      else stageIn(toPhysical(addRows, m.colMap), path, physPartCols(m),
        transformsOf(m))
    // write-time CDC for the replica's own downstream: adds as
    // inserts, the written sidecar's positions joined back as deletes
    val cdc = captureCdc(spark, path, m, {
      val dels = cdcDeleteSrc.map { dvName =>
        val sidecar = readDv(spark, Seq(dvPath(path, dvName)))
        val rows = readFiles(spark, path, m, m.files, keepDvKey = true)
        rows.join(sidecar, rows("_dv_key") === sidecar("f") &&
            rows("_dv_idx").cast("long") === sidecar("row_index"), "left_semi")
          .select(cols.map(col).toIndexedSeq
            :+ lit("delete").as("_change_type"): _*)
      }
      val ins = addRows.select(cols.map(col).toIndexedSeq
        :+ lit("insert").as("_change_type"): _*)
      dels.map(_.unionByName(ins)).getOrElse(ins)
    })
    val dvTargets = addDv.headOption.map(_._2.keySet).getOrElse(Set.empty)
    commitRebase(spark, path, m, rewriteDirs = Set.empty,
      newFiles = newFiles, schemaDdl = m.schemaDdl, batchId = None,
      readSet = None, operation = "APPLY CHANGES (KEYLESS)",
      addDv = addDv, txn = txn,
      rebaseCheck =
        if (dvTargets.isEmpty) None
        else Some(predicateRebaseCheck(spark, path, declared, dvTargets,
          "UTC")),
      cdc = cdc)
  }

  /** The directory name Spark's partitioned writer produces for a
    * value — its own escaping, so the touched-set arithmetic matches
    * the bytes on disk. (Values whose String form differs from Spark's
    * partition formatting — e.g. raw timestamps — are outside
    * [[mergeInto]]'s contract; use string/numeric partition columns.) */
  private def partitionDirName(colName: String, v: Any): String = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val s = if (v == null) null else String.valueOf(v)
    if (s == null || s.isEmpty)
      s"$colName=${ExternalCatalogUtils.DEFAULT_PARTITION_NAME}"
    else s"$colName=${ExternalCatalogUtils.escapePathName(s)}"
  }

  /** The nested directory path Spark produces for a multi-column
    * partition tuple ("a=1/b=2"), in declared layout order. */
  private def partitionDirPath(cols: Seq[String], vals: Seq[Any]): String = {
    require(cols.size == vals.size,
      s"TxLog: partition value (${vals.mkString(", ")}) does not match the " +
        s"table's ${cols.size}-column layout (${cols.mkString(", ")})")
    cols.zip(vals).map { case (c, v) => partitionDirName(c, v) }.mkString("/")
  }

  /** Normalize a user-supplied partition value for an N-column layout:
    * single-column tables take the scalar; multi-column take a Seq or
    * a tuple, in layout order. */
  private def asPartitionTuple(cols: Seq[String], v: Any): Seq[Any] = v match {
    case s: scala.collection.Seq[_] => s.toSeq
    case p: Product if cols.size > 1 && p.productArity == cols.size =>
      p.productIterator.toSeq
    case x => Seq(x)
  }

  /** Drop files referenced by NO retained manifest, and the manifests
    * older than the newest `keepVersions`. Time travel reaches back
    * only as far as the oldest retained version afterwards. Returns
    * the deleted data files' relative paths. */
  /** `dryRun = true` reports the data files vacuum WOULD delete and
    * changes nothing — no deletions, no chain-integrity checkpoints,
    * no cache invalidation (Delta's `VACUUM ... DRY RUN`). */
  /** Parquet files under the table's data dir that NO kept manifest
    * references — vacuum's sweep set, shared by dry-run and delete.
    * Below the distributed-index threshold (sized on the LIVE set,
    * the only count known without walking) the driver walks the tree;
    * above it the walk fans out ONE TASK PER top-level partition
    * directory and live-set membership runs as a distributed
    * subtract — at 10^6 files the driver lists only the data root's
    * immediate children and collects only the orphans. By-reference
    * absolute entries (shallow clones) never match a relative
    * candidate, so a clone's vacuum cannot sweep its source. */
  private def orphanDataFiles(spark: SparkSession, path: String,
                              live: Set[String]): Seq[String] = {
    val fs = fsFor(spark, path)
    val root = dataDir(path)
    if (!fs.exists(root)) return Nil
    val threshold = spark.conf
      .getOption("graft.txlog.distributedIndexThreshold")
      .map(_.toLong).getOrElse(100000L)
    if (live.size < threshold) {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      def scan(dir: Path, rel: String): Unit =
        fs.listStatus(dir).foreach { st =>
          val name = st.getPath.getName
          val r = if (rel.isEmpty) name else s"$rel/$name"
          if (st.isDirectory) scan(st.getPath, r)
          else if (name.endsWith(".parquet") && !live.contains(r)) out += r
        }
      scan(root, "")
      out.toSeq
    } else {
      val top = fs.listStatus(root)
      val (dirs, files) = top.partition(_.isDirectory)
      val rootOrphans = files.map(_.getPath.getName).toSeq
        .filter(n => n.endsWith(".parquet") && !live.contains(n))
      val rootStr = root.toString
      val hconf = new org.apache.spark.SerializableWritable(
        spark.sparkContext.hadoopConfiguration)
      val cands = spark.sparkContext
        .parallelize(dirs.map(_.getPath.getName).toSeq,
          math.max(1, math.min(dirs.length, 256)))
        .flatMap { topDir =>
          val conf = hconf.value
          val tfs = new Path(rootStr).getFileSystem(conf)
          val out = scala.collection.mutable.ArrayBuffer.empty[String]
          def scan(dir: Path, rel: String): Unit =
            tfs.listStatus(dir).foreach { st =>
              val name = st.getPath.getName
              val r = s"$rel/$name"
              if (st.isDirectory) scan(st.getPath, r)
              else if (name.endsWith(".parquet")) out += r
            }
          scan(new Path(rootStr, topDir), topDir)
          out
        }
      val liveRdd = spark.sparkContext.parallelize(live.toSeq,
        math.max(1, (live.size / 100000).min(256)))
      (cands.subtract(liveRdd).collect().toSeq ++ rootOrphans).sorted
    }
  }

  def vacuum(spark: SparkSession, path: String, keepVersions: Int = 1,
             dryRun: Boolean = false,
             keepHours: Option[Double] = None): Seq[String] = {
    require(keepVersions >= 1, "vacuum must keep at least the current version")
    keepHours.foreach(h => require(h >= 0, "vacuum: negative retention"))
    val fs = fsFor(spark, path)
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val versions = fs.listStatus(manifestDir(path)).toSeq
      .flatMap(s => versionOf(s.getPath)).sorted
    // time-based retention EXTENDS the version window (Delta's
    // retention period in spirit): a version drops only when it is
    // both below the version cut AND provably older than the horizon —
    // commits without a timestamp (legacy) never drop on time alone.
    // No explicit keepHours → the table's own declared retention
    // ([[RetentionHoursProp]]) applies; an explicit argument wins.
    val resolvedKeepHours = keepHours.orElse(
      propsOf(manifest(spark, path, cur)).get(RetentionHoursProp)
        .flatMap(_.toDoubleOption))
    val horizon = resolvedKeepHours.map(h =>
      System.currentTimeMillis() - (h * 3600 * 1000).toLong)
    def olderThanHorizon(v: Long): Boolean = horizon.forall(c =>
      Option(readCommitNode(spark, path, v).get("ts")).exists(_.asLong() < c))
    // tagged versions are PINNED: a tag is the caller's promise that
    // the snapshot stays reproducible — retention cuts route around it
    val pinnedByTag = tags(spark, path).values.toSet
    val (drop, keep) = versions.partition(v =>
      v <= cur - keepVersions && olderThanHorizon(v) &&
        !pinnedByTag.contains(v))
    val live = keep.flatMap(manifest(spark, path, _).files).toSet
    val orphans = orphanDataFiles(spark, path, live)
    if (dryRun) return orphans
    // metadata-chain integrity BEFORE dropping old commits: every kept
    // version must resolve from kept artifacts alone. Walking kept
    // versions ascending, a version is self-resolvable if it is a full
    // commit, has a checkpoint, is a delta whose predecessor resolved,
    // or a ref whose target is a resolvable kept version; anything
    // else (a delta chained below the cut, a ref into the dropped
    // range) gets a checkpoint written NOW, while its chain is intact.
    if (drop.nonEmpty) {
      val fsDir = fsFor(spark, path)
      val resolvable = scala.collection.mutable.Set.empty[Long]
      keep.sorted.foreach { t =>
        val selfOk =
          if (fsDir.exists(ckptDir(path, t))) true
          else {
            val node = readCommitNode(spark, path, t)
            if (node.has("files")) true
            else if (node.has("baseRef")) resolvable.contains(node.get("baseRef").asLong())
            else resolvable.contains(t - 1)
          }
        if (!selfOk) writeCheckpoint(spark, path, manifest(spark, path, t))
        resolvable += t
      }
    }
    // the sweep: above the distributed-index threshold the deletes run
    // IN TASKS (a 10^6-orphan sweep must not serialize 10^6 driver
    // RPCs — same economics as convert's renames); below it the driver
    // loop wins. Deleting an already-gone file is a no-op either way,
    // so a re-run after a partial crash just finishes the job.
    val dataRoot = dataDir(path).toString
    val sweepThreshold = spark.conf
      .getOption("graft.txlog.distributedIndexThreshold")
      .map(_.toLong).getOrElse(100000L)
    if (orphans.size >= sweepThreshold) {
      val hconf = new org.apache.spark.SerializableWritable(
        spark.sparkContext.hadoopConfiguration)
      spark.sparkContext
        .parallelize(orphans, math.max(1, math.min(orphans.size / 1000, 256)))
        .foreachPartition { it =>
          val conf = hconf.value
          it.foreach { rel =>
            val p = new Path(dataRoot, rel)
            p.getFileSystem(conf).delete(p, false)
          }
        }
    } else orphans.foreach(rel => fs.delete(new Path(dataRoot, rel), false))
    val deleted = orphans
    // bloom sidecars of files no retained manifest references: the
    // sidecar name is md5(entry), so the live sidecar set is derivable
    // without inverting anything
    val bloomRoot = new Path(path, "_index/bloom")
    if (fs.exists(bloomRoot)) {
      val liveNames = keep.flatMap(manifest(spark, path, _).files)
        .map(f => sidecarName(f)).toSet
      fs.listStatus(bloomRoot).filter(_.isDirectory).foreach { colDir =>
        fs.listStatus(colDir.getPath).foreach { st =>
          if (st.getPath.getName.endsWith(".bloom") &&
              !liveNames.contains(st.getPath.getName))
            fs.delete(st.getPath, false)
        }
      }
    }
    // deletion-vector sidecars referenced by NO retained manifest
    // (materialized by OPTIMIZE, superseded, or orphaned by a lost
    // commit race) — delete-sized parquet dirs under _dv/
    val dvRoot = new Path(path, "_dv")
    if (fs.exists(dvRoot)) {
      val liveDv = keep.flatMap(kv => manifest(spark, path, kv).dv.map(_._1))
        .filterNot(isAbsEntry).toSet
      fs.listStatus(dvRoot).foreach { st =>
        if (!liveDv.contains(st.getPath.getName)) fs.delete(st.getPath, true)
      }
    }
    // write-time CDC records referenced by NO retained commit node —
    // expired feed windows, plus orphan dirs a crashed writer staged
    // but never committed (those hide behind the stale-write age guard
    // below, so an in-flight commit's staged record survives)
    val cdcRoot = cdcDir(path)
    if (fs.exists(cdcRoot)) {
      val liveCdcDirs = keep.flatMap { kv =>
        val node = readCommitNode(spark, path, kv)
        Option(node.get("cdc")).toSeq.flatMap(a =>
          (0 until a.size()).map(a.get(_).asText().split('/').head))
      }.toSet
      val staleWriteMsCdc = (spark.conf
        .getOption("graft.txlog.staleWriteHours")
        .map(_.toDouble).getOrElse(24.0) * 3600 * 1000).toLong
      val cdcCut = math.min(horizon.getOrElse(Long.MaxValue),
        System.currentTimeMillis() - staleWriteMsCdc)
      fs.listStatus(cdcRoot)
        .filter(st => !liveCdcDirs.contains(st.getPath.getName))
        .filter(st => st.getModificationTime < cdcCut)
        .foreach(st => fs.delete(st.getPath, true))
    }
    drop.foreach { dv =>
      fs.delete(new Path(manifestDir(path), s"v$dv.json"), false)
      fs.delete(ckptDir(path, dv), true)
    }
    // crashed writers' leftovers at the table root — an un-moved
    // `_staging_<uuid>` batch (stageIn died between write and move: a
    // FULL copy of its frame, invisible to resolution, leaked forever
    // without this) and a crashed DV-mode UPDATE's matched-set
    // materialization (its finally-cleanup never ran). Swept behind an
    // AGE guard: a LIVE concurrent writer's staging dir must survive
    // its own in-flight commit (Delta's uncommitted-file retention).
    // Uncommitted leftovers get their OWN floor independent of the
    // version-retention horizon (r14 advice): an explicit keepHours=0
    // (or graft.retentionHours=0) legitimately drops old VERSIONS
    // immediately but must never kill an in-flight writer — so the cut
    // is the OLDER of the vacuum horizon and now − staleWriteHours
    // (default 24; `graft.txlog.staleWriteHours` tunes it). Age is the
    // NEWEST mtime found recursively inside the dir, not the root's:
    // files landing in nested partition subdirs do not refresh the
    // root mtime, so a long-running staged write would look stale
    // while still live.
    val staleWriteMs = (spark.conf
      .getOption("graft.txlog.staleWriteHours")
      .map(_.toDouble).getOrElse(24.0) * 3600 * 1000).toLong
    val staleCut = math.min(
      horizon.getOrElse(Long.MaxValue),
      System.currentTimeMillis() - staleWriteMs)
    def newestMtime(p: Path): Long = {
      val st = fs.getFileStatus(p)
      if (!st.isDirectory) st.getModificationTime
      else (st.getModificationTime +:
        fs.listStatus(p).map(c => newestMtime(c.getPath)).toSeq).max
    }
    fs.listStatus(new Path(path))
      .filter { st =>
        val n = st.getPath.getName
        n.startsWith("_staging_") || n.startsWith("_tmp_update_")
      }
      .filter(st => newestMtime(st.getPath) < staleCut)
      .foreach(st => fs.delete(st.getPath, true))
    // same class inside _manifests: a crashed checkpoint job's
    // un-renamed `.ckpt_*` dir and a crashed commit's un-renamed
    // `.v<N>.json.<uuid>.tmp` — both invisible to resolution, both
    // behind the same age guard (a LIVE committer's temp survives)
    if (fs.exists(manifestDir(path)))
      fs.listStatus(manifestDir(path))
        .filter { st =>
          val n = st.getPath.getName
          (n.startsWith(".ckpt_") || (n.startsWith(".v") && n.endsWith(".tmp"))) &&
            newestMtime(st.getPath) < staleCut
        }
        .foreach(st => fs.delete(st.getPath, true))
    // dropped versions must now FAIL resolution, not serve from cache
    cacheInvalidate(spark, path)
    deleted
  }

  // ------------------------------------------------------------------
  // Tags — named, retention-pinned snapshots (Iceberg tags in spirit)
  // ------------------------------------------------------------------

  /** Tags live in `_manifests/tags.json` (`{"name": version}`): a tag
    * is a NAME for a committed version, never a commit itself —
    * creating or dropping one moves no data and bumps no version.
    * [[vacuum]] treats tagged versions as RETAINED: the manifest, its
    * chain grounding, and its files survive any version/time cut
    * until the tag drops — the durable pin for "the snapshot training
    * run X consumed". Writable BRANCHES are deliberately not a
    * separate mechanism: a zero-copy shallow [[clone]] IS a branch
    * (own commit history, by-reference files); a tag is the immutable
    * half. Updates are temp+rename under the per-table JVM lock;
    * cross-process tag updates are last-writer-wins on the NAME map
    * (data safety never depends on it — versions are immutable). */
  def tags(spark: SparkSession, path: String): Map[String, Long] = {
    val fs = fsFor(spark, path)
    val f = tagsFile(path)
    if (!fs.exists(f)) Map.empty
    else {
      val in = fs.open(f)
      try {
        val node = mapper.readTree(in)
        val it = node.fieldNames()
        Iterator.continually(if (it.hasNext) it.next() else null)
          .takeWhile(_ != null).map(n => n -> node.get(n).asLong()).toMap
      } finally in.close()
    }
  }

  private def tagsFile(path: String) = new Path(manifestDir(path), "tags.json")

  private def writeTags(spark: SparkSession, path: String,
                        m: Map[String, Long]): Unit = {
    val fs = fsFor(spark, path)
    val tmp = new Path(manifestDir(path),
      s".tags_${java.util.UUID.randomUUID().toString.take(8)}.json.tmp")
    val node = mapper.createObjectNode()
    m.toSeq.sortBy(_._1).foreach { case (n, v) => node.put(n, v) }
    val out = fs.create(tmp, false)
    try out.write(mapper.writerWithDefaultPrettyPrinter().writeValueAsBytes(node))
    finally out.close()
    fs.delete(tagsFile(path), false)
    if (!fs.rename(tmp, tagsFile(path))) {
      fs.delete(tmp, false)
      throw new IllegalStateException(s"TxLog.tag: could not publish tags at $path")
    }
  }

  /** Name a committed version (default: the head). Refuses an
    * existing name — re-pointing a pin is an explicit
    * [[untag]] + [[tag]], never a silent move. Returns the tagged
    * version. */
  def tag(spark: SparkSession, path: String, name: String,
          version: Option[Long] = None): Long = {
    require(name.nonEmpty && name.forall(c =>
      c.isLetterOrDigit || c == '_' || c == '-' || c == '.'),
      s"TxLog.tag: tag name must be [A-Za-z0-9_.-]+, got '$name'")
    val cur = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val v = version.getOrElse(cur)
    // the version must be a retained commit (resolvable ⇒ taggable)
    manifest(spark, path, v)
    val lock = commitLocks.computeIfAbsent(cacheKey(spark, path),
      _ => new Object)
    lock.synchronized {
      val cur = tags(spark, path)
      require(!cur.contains(name),
        s"TxLog.tag: tag '$name' already points at v${cur(name)} — untag first")
      writeTags(spark, path, cur + (name -> v))
    }
    v
  }

  /** Drop a tag (the NAME only; the version stays committed and
    * becomes vacuumable like any other). */
  def untag(spark: SparkSession, path: String, name: String): Unit = {
    val lock = commitLocks.computeIfAbsent(cacheKey(spark, path),
      _ => new Object)
    lock.synchronized {
      val cur = tags(spark, path)
      require(cur.contains(name), s"TxLog.untag: no tag '$name' at $path " +
        s"(have: ${cur.keys.toSeq.sorted.mkString(", ")})")
      writeTags(spark, path, cur - name)
    }
  }

  /** Snapshot read AT a tag. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame = {
    val t = tags(spark, path)
    read(spark, path, Some(t.getOrElse(name,
      throw new IllegalArgumentException(
        s"TxLog.readTag: no tag '$name' at $path " +
          s"(have: ${t.keys.toSeq.sorted.mkString(", ")})"))))
  }

  /** [[restore]] addressed by TAG — "roll the table back to the
    * snapshot run X trained on", without anyone remembering its
    * version number. The tag stays put (it names the version, not the
    * head), so the restore is repeatable and the pinned snapshot
    * remains vacuum-protected afterwards. */
  def restoreToTag(spark: SparkSession, path: String, name: String): Long = {
    val t = tags(spark, path)
    restore(spark, path, t.getOrElse(name,
      throw new IllegalArgumentException(
        s"TxLog.restoreToTag: no tag '$name' at $path " +
          s"(have: ${t.keys.toSeq.sorted.mkString(", ")})")))
  }

  /** DESCRIBE HISTORY — one row per retained version, metadata only
    * (no data read, no Spark job): version, file count, total bytes,
    * how many files the version added and dropped vs its predecessor
    * (a quick read on what kind of commit it was: append adds only,
    * merge adds+drops, restore re-points), the streaming batch
    * watermark, and `operation_metrics` (Delta's operationMetrics, the
    * incident-triage map): rows_written / rows_removed / dv_rows_added
    * / bytes_added on every commit, plus verb-exact rows_inserted
    * (appends/creates), rows_deleted (both DELETE forms) and
    * rows_updated (DV updates) where the file/DV deltas determine them
    * — all DERIVED from the per-file row counts and DV tallies the
    * manifests already carry, so historical commits get them
    * retroactively and the write path pays nothing. A MERGE's
    * inserted/updated split needs per-row lineage — [[changes]] (the
    * CDF) answers that exactly. Keys whose inputs predate row tracking
    * are omitted rather than guessed. Bytes come from the filesystem's
    * file statuses — file-count-bounded driver work, the same class as
    * every other catalog walk here; by-reference clone entries resolve
    * against their source root. */
  def history(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    val dir = manifestDir(path)
    require(fs.exists(dir), s"TxLog: no table at $path")
    val versions = fs.listStatus(dir).toSeq
      .flatMap(s => versionOf(s.getPath)).sorted
    val manifests = versions.map(v => v -> manifest(spark, path, v))
    // one stat per DISTINCT file across ALL versions: retained versions
    // share most of their file lists (each commit changes O(files
    // touched)), so an un-memoized walk would pay versions × files stat
    // RPCs — the exact wall the delta commits exist to avoid
    val sizeCache = scala.collection.mutable.HashMap.empty[String, Long]
    def sizeOf(f: String): Long = sizeCache.getOrElseUpdate(f, {
      val p = if (isAbsEntry(f)) new Path(f) else new Path(dataDir(path), f)
      // by-reference clone entries can live on a DIFFERENT scheme than
      // the clone table — resolve each path against its own FileSystem
      // (the table's fs would throw Wrong FS as IllegalArgumentException,
      // which an IOException-only catch does not absorb; review finding)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen
      catch {
        case _: java.io.IOException | _: IllegalArgumentException => 0L
      }
    })
    val rows = manifests.zipWithIndex.map { case ((v, m), i) =>
      val prevM = if (i == 0) None else Some(manifests(i - 1)._2)
      val prev: Set[String] = prevM.map(_.files.toSet).getOrElse(Set.empty)
      // provenance from the commit node itself (resolution never needs
      // it); absent on pre-provenance commits -> null
      val node = readCommitNode(spark, path, v)
      val op = Option(node.get("operation")).map(_.asText()).orNull
      val ts = Option(node.get("ts"))
        .map(t => new java.sql.Timestamp(t.asLong())).orNull
      val addedFiles = m.files.filterNot(prev.contains)
      val removedFiles = prev.diff(m.files.toSet).toSeq
      // operationMetrics (Delta parity, the incident-triage column) —
      // DERIVED from the manifests, not recorded at write time: every
      // commit carries per-file row counts and DV tallies, so the
      // row-level deltas fall out of the version diff for free and
      // retroactively (historical commits get them too). Keys whose
      // inputs predate row tracking are omitted rather than guessed.
      def sumRows(files: Seq[String], rowsOf: Map[String, Long]): Option[Long] = {
        val known = files.flatMap(rowsOf.get)
        if (known.size == files.size) Some(known.sum) else None
      }
      val rowsWritten = sumRows(addedFiles, m.fileRows)
      val rowsRemoved = sumRows(removedFiles,
        prevM.map(_.fileRows).getOrElse(Map.empty))
      val prevDv = prevM.map(_.dv.map(_._1).toSet).getOrElse(Set.empty)
      val newDv = m.dv.filterNot(d => prevDv.contains(d._1))
      val dvRowsAdded = newDv.map(_._2.values.sum).sum
      val metrics = scala.collection.mutable.LinkedHashMap[String, Long]()
      rowsWritten.foreach(metrics("rows_written") = _)
      rowsRemoved.foreach(metrics("rows_removed") = _)
      if (newDv.nonEmpty) metrics("dv_rows_added") = dvRowsAdded
      metrics("bytes_added") = addedFiles.map(sizeOf).sum
      val opU = Option(op).getOrElse("")
      // verb-exact row semantics where the file/DV deltas determine
      // them; MERGE's inserted/updated split needs per-row lineage —
      // that is what [[changes]] (the CDF) answers exactly
      if (opU.startsWith("APPEND") || opU.startsWith("STREAMING") ||
          opU.startsWith("CREATE") || opU == "CONVERT")
        rowsWritten.foreach(metrics("rows_inserted") = _)
      if (opU.startsWith("DELETE")) {
        if (opU.contains("(DV)")) metrics("rows_deleted") = dvRowsAdded
        else rowsRemoved.foreach(r =>
          metrics("rows_deleted") = r - rowsWritten.getOrElse(0L))
      }
      if (opU == "UPDATE (DV)") metrics("rows_updated") = dvRowsAdded
      (v, m.files.size.toLong, m.files.map(sizeOf).sum,
        addedFiles.size.toLong, removedFiles.size.toLong,
        m.sourceBatchId, op, ts, metrics.toMap)
    }
    import spark.implicits._
    rows.toDF("version", "n_files", "total_bytes",
      "files_added", "files_removed", "source_batch_id", "operation",
      "commit_ts", "operation_metrics")
  }

  /** DESCRIBE DETAIL — the one-row table summary (Delta's shape):
    * head version, layout, size, metadata-only row count (null when
    * any file predates row tracking), skip columns, constraint
    * counts, and the declared schema. Metadata + file stats only; no
    * data is read. */
  def detail(spark: SparkSession, path: String): DataFrame = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    def sizeOf(f: String): Long = {
      val p = if (isAbsEntry(f)) new Path(f) else new Path(dataDir(path), f)
      try p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getFileStatus(p).getLen
      catch { case _: java.io.IOException | _: IllegalArgumentException => 0L }
    }
    import spark.implicits._
    Seq((path, v,
      // hidden layouts show the TRANSFORM SPEC (days(ts), ...) — the
      // derived dir names are an implementation detail
      if (m.partitionSpec.nonEmpty) m.partitionSpec.mkString(", ")
      else if (m.partitionCols.isEmpty) null else m.partitionCols.mkString(", "),
      m.files.size.toLong,
      m.files.map(sizeOf).sum, fastCount(spark, path),
      m.statsCols.mkString(", "),
      // properties ride the constraints channel but are not CHECKs
      m.constraints.count(!_._1.startsWith(PropPrefix)), m.uniques.size,
      // outstanding (un-materialized) deletion-vector rows — the "run
      // OPTIMIZE to materialize" advisory signal
      m.dv.flatMap(_._2.values).sum,
      m.schemaDdl,
      propsOf(m),
      // ANALYZE-time NDV stats (CBO inputs): the analyzed-at version
      // makes staleness visible next to the head version above
      Analyze.read(spark, path).map(a => java.lang.Long.valueOf(a.analyzedVersion)).orNull,
      Analyze.read(spark, path).map(_.cols.view.mapValues(_.ndv).toMap)
        .getOrElse(Map.empty[String, Long])))
      .toDF("path", "version", "partition_col", "num_files", "total_bytes",
        "rows", "stats_cols", "n_check_constraints", "n_unique_constraints",
        "n_dv_rows", "schema_ddl", "properties", "analyzed_version",
        "column_ndv")
  }

  /** The FILES metadata table (Delta's per-file inventory at file
    * grain): one row per live data file of the snapshot — partition
    * directory, metadata row count, size/mtime where known,
    * outstanding DV-deleted rows, and the skip-stats entries with
    * keys translated to LOGICAL column names (renamed columns show
    * their current name; dropped columns' lingering entries filter
    * out). Metadata only — no data file is read.
    *
    * Scale: at/above `graft.txlog.distributedIndexThreshold` (default
    * 100k entries) the enumeration serves from the COLUMNAR checkpoint
    * (written on demand by a distributed job that also stats
    * size/mtime in tasks), so a 10^6-file listing is a parquet scan,
    * never a driver materialization; below it the manifest already
    * sits resolved in driver memory and converts directly (size/mtime
    * null — stat-ing every file is the checkpoint job's business). */
  def files(spark: SparkSession, path: String,
            version: Option[Long] = None): DataFrame = {
    val pinned = version
    import org.apache.spark.sql.functions._
    val v = pinned.getOrElse(currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path")))
    val m = manifest(spark, path, v)
    val threshold = spark.conf
      .getOption("graft.txlog.distributedIndexThreshold")
      .map(_.toLong).getOrElse(100000L)
    val base: DataFrame =
      if (m.files.size >= threshold && ensureCheckpoint(spark, path, m))
        spark.read.schema(ckptSchema).parquet(ckptDir(path, m.version).toString)
      else {
        val rows = m.files.map { f =>
          org.apache.spark.sql.Row(f,
            m.fileRows.get(f).map(java.lang.Long.valueOf).orNull,
            m.fileStats.get(f)
              .map(_.map { case (c, (lo, hi)) => c -> Seq(lo, hi) }).orNull,
            m.fileNulls.get(f).orNull, null, null)
        }
        spark.createDataFrame(
          scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava, ckptSchema)
      }
    // per-file outstanding DV rows: sums the resolved per-target counts
    // the manifest already carries — delete-sized, broadcast join
    val dvCounts = m.dv.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
    val withDv =
      if (dvCounts.isEmpty) base.withColumn("dv_deleted_rows", lit(0L))
      else {
        import spark.implicits._
        base.join(broadcast(dvCounts.toSeq.toDF("f", "_dvn")), Seq("f"), "left")
          .withColumn("dv_deleted_rows", coalesce(col("_dvn"), lit(0L)))
          .drop("_dvn")
      }
    // stats keys are PHYSICAL (stable next to the files); surface them
    // under the LOGICAL names a user queries by, dropping tombstoned
    // slots (a dropped column's lingering entries are not a column)
    val renames = m.colMap.filterNot(_._1.startsWith(DroppedPrefix))
      .filter { case (l, p) => l != p }
    val tombstoned = m.colMap.collect {
      case (l, p) if l.startsWith(DroppedPrefix) => p
    }.toSet
    val statsCol0 =
      if (tombstoned.isEmpty) col("stats")
      else map_filter(col("stats"), (k, _) => !k.isin(tombstoned.toSeq: _*))
    val statsCol =
      if (renames.isEmpty) statsCol0
      else {
        val lut = map(renames.flatMap { case (l, p) => Seq(lit(p), lit(l)) }: _*)
        transform_keys(statsCol0, (k, _) => coalesce(element_at(lut, k), k))
      }
    // null counts are keyed physical like the range stats — same
    // logical-name translation, same tombstone filtering
    val nullsCol0 =
      if (tombstoned.isEmpty) col("nulls")
      else map_filter(col("nulls"), (k, _) => !k.isin(tombstoned.toSeq: _*))
    val nullsCol =
      if (renames.isEmpty) nullsCol0
      else {
        val lut = map(renames.flatMap { case (l, p) => Seq(lit(p), lit(l)) }: _*)
        transform_keys(nullsCol0, (k, _) => coalesce(element_at(lut, k), k))
      }
    withDv.select(
      col("f").as("file"),
      when(col("f").contains("/"),
        regexp_extract(col("f"), "^(.*)/[^/]*$", 1)).as("partition_dir"),
      col("rows"),
      col("len").as("size_bytes"),
      col("mtime"),
      col("dv_deleted_rows"),
      statsCol.as("stats"),
      nullsCol.as("null_counts"))
  }

  /** The PARTITIONS metadata table (Iceberg's `partitions` metadata
    * table in spirit): one row per live partition directory of the
    * snapshot — file count, metadata row count, known bytes, and
    * outstanding DV-deleted rows. A pure aggregate over [[files]], so
    * it inherits the same scale route (manifest-direct below the
    * distributed-index threshold, columnar checkpoint above) and never
    * reads a data file. Root files of an unpartitioned table group
    * under the NULL partition; `size_bytes` is null below the
    * threshold (stat-ing every file is the checkpoint job's business,
    * exactly as [[files]] documents). */
  def partitions(spark: SparkSession, path: String,
                 version: Option[Long] = None): DataFrame = {
    val pinned = version // functions._ would shadow the parameter
    import org.apache.spark.sql.functions._
    files(spark, path, pinned)
      .groupBy(col("partition_dir"))
      .agg(count(lit(1)).as("num_files"),
        sum("rows").as("rows"),
        sum("size_bytes").as("size_bytes"),
        sum("dv_deleted_rows").as("dv_deleted_rows"))
      .orderBy(col("partition_dir"))
  }

  /** The newest version committed AT OR BEFORE `tsMillis` — the
    * `AS OF TIMESTAMP` resolver. O(versions) small metadata reads
    * (rare interactive operation); commits predating timestamp
    * tracking are treated as older than any query time. Loud when the
    * whole retained history is newer than the asked-for instant. */
  def versionAt(spark: SparkSession, path: String, tsMillis: Long): Long = {
    val fs = fsFor(spark, path)
    val dir = manifestDir(path)
    require(fs.exists(dir), s"TxLog: no table at $path")
    val versions = fs.listStatus(dir).toSeq
      .flatMap(s => versionOf(s.getPath)).sorted
    val at = versions.filter { v =>
      Option(readCommitNode(spark, path, v).get("ts"))
        .forall(_.asLong() <= tsMillis)
    }
    require(at.nonEmpty,
      s"TxLog: no version of $path existed at ${new java.sql.Timestamp(tsMillis)} " +
        s"(earliest retained commit: v${versions.min})")
    at.max
  }

  /** Snapshot read AS OF a wall-clock instant (epoch millis). */
  def readAsOf(spark: SparkSession, path: String, tsMillis: Long): DataFrame =
    read(spark, path, Some(versionAt(spark, path, tsMillis)))

  /** Parse the SQL surface's timestamp literal: ISO-8601 instant
    * (`2026-08-14T10:00:00Z`) or SQL timestamp (`2026-08-14 10:00:00`,
    * session-local). */
  private[graft] def parseTsMillis(s: String): Long =
    try java.time.Instant.parse(s).toEpochMilli
    catch {
      case _: java.time.format.DateTimeParseException =>
        java.sql.Timestamp.valueOf(s).getTime
    }

  /** Metadata-only COUNT(*) — every commit records each new file's row
    * count in the manifest (Delta's numRecords in spirit), so a full-
    * table count is a sum over the manifest, zero Spark jobs, zero
    * file reads. Returns None when any file of the version predates
    * row-count tracking (committed by an older build) — the caller
    * falls back to `read(...).count()`; never guesses. */
  def fastCount(spark: SparkSession, path: String,
                version: Option[Long] = None): Option[Long] = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    if (m.files.forall(m.fileRows.contains))
      // DV-deleted rows subtract from the metadata count (every carried
      // DV entry references a live file — stale entries prune at commit)
      Some(m.files.map(m.fileRows).sum - m.dv.flatMap(_._2.values).sum)
    else None
  }

  // ------------------------------------------------------------------
  // Shallow / deep clone
  // ------------------------------------------------------------------

  /** CLONE — create a new table at `target` whose version 1 is the
    * content of `source` at `version` (default head).
    *
    * Shallow (default): a METADATA-ONLY commit — the new manifest
    * references the source's data files by absolute path, copying
    * nothing. The instant dev/test copy of a production table: reads,
    * time travel, appends, merges, deletes, compaction all work on the
    * clone, and every WRITE lands new files under the clone's own
    * directory — the source is never touched (a merge that rewrites a
    * partition simply drops the by-reference entries for it). Skip-
    * index stats carry over keyed by the new entries.
    *
    * The Delta-documented caveat applies verbatim: the source's
    * [[vacuum]] does not know about clones, so vacuuming the source
    * past the cloned version breaks the clone's by-reference files —
    * retain the source version, or take `deep = true`.
    *
    * Deep: the files COPY into the clone's data dir (one per-file
    * copy, no Spark job, layout byte-identical) and the clone is fully
    * self-contained. */
  def clone(spark: SparkSession, source: String, target: String,
            version: Option[Long] = None, deep: Boolean = false): Long = {
    require(currentVersion(spark, target).isEmpty,
      s"TxLog: table already exists at $target")
    val v = version.orElse(currentVersion(spark, source)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $source"))
    val m = manifest(spark, source, v)
    def abs(f: String): String =
      if (isAbsEntry(f)) f else new Path(dataDir(source), f).toString
    def absDv(f: String): String =
      if (isAbsEntry(f)) f else new Path(new Path(source, "_dv"), f).toString
    val (entries, stats, rowCounts, dvState, nulls) =
      if (!deep) {
        val es = m.files.map(abs)
        (es, m.fileStats.map { case (k, cols) => abs(k) -> cols },
          m.fileRows.map { case (k, n) => abs(k) -> n },
          // DV refs and their target-entry keys both go absolute: the
          // parquet's (suffix, row_index) content stays valid because
          // an absolute entry's suffix equals the relative form's
          m.dv.map { case (f, e) =>
            absDv(f) -> e.map { case (k, n) => abs(k) -> n }
          },
          m.fileNulls.map { case (k, cols) => abs(k) -> cols })
      } else {
        val srcFs = fsFor(spark, source)
        val dstFs = fsFor(spark, target)
        val conf = spark.sparkContext.hadoopConfiguration
        val copied = m.files.map { f =>
          val rel = relEntry(f)
          val dst = new Path(dataDir(target), rel)
          dstFs.mkdirs(dst.getParent)
          require(org.apache.hadoop.fs.FileUtil.copy(
            srcFs, new Path(abs(f)), dstFs, dst, false, conf),
            s"TxLog.clone: copy failed for $f")
          f -> rel
        }.toMap
        // deep clone copies the DV parquet dirs too — fully
        // self-contained, like the data files
        val dvCopied = m.dv.map { case (f, e) =>
          val rel = if (isAbsEntry(f)) f.split('/').last else f
          val dst = new Path(new Path(target, "_dv"), rel)
          dstFs.mkdirs(dst.getParent)
          require(org.apache.hadoop.fs.FileUtil.copy(
            srcFs, new Path(absDv(f)), dstFs, dst, false, conf),
            s"TxLog.clone: DV copy failed for $f")
          rel -> e.map { case (k, n) => copied.getOrElse(k, relEntry(k)) -> n }
        }
        (m.files.map(copied),
          m.fileStats.flatMap { case (k, cols) => copied.get(k).map(_ -> cols) },
          m.fileRows.flatMap { case (k, n) => copied.get(k).map(_ -> n) },
          dvCopied,
          m.fileNulls.flatMap { case (k, cols) => copied.get(k).map(_ -> cols) })
      }
    cacheInvalidate(spark, target)
    // sourceBatchId and txns RESET: the clone is a new table — its
    // ingest apps start their own watermark lanes (carrying the
    // source's would silently skip their first deliveries). The
    // partitionSpec CARRIES: the cloned entries' directories spell
    // derived transform values, and without the spec the read path
    // would try to recover them as schema columns.
    val cloneM = Manifest(1L, m.partitionCols, m.schemaDdl,
      entries.sorted, sourceBatchId = None, statsCols = m.statsCols,
      fileStats = stats, fileRows = rowCounts, constraints = m.constraints,
      uniques = m.uniques, ts = Some(System.currentTimeMillis()),
      minWriter = m.minWriter, colMap = m.colMap, dv = dvState,
      partitionSpec = m.partitionSpec, fileNulls = nulls)
    writeManifest(spark, target, cloneM,
      operation = s"CLONE${if (deep) " DEEP" else ""} $source v$v")
    cachePut(spark, target, cloneM)
    1L
  }

  // ------------------------------------------------------------------
  // Bloom-filter file index (point-lookup data skipping)
  // ------------------------------------------------------------------

  private def bloomDir(path: String, colName: String) =
    new Path(path, s"_index/bloom/$colName")

  /** Sidecar file name for a manifest entry — md5 of the ENTRY STRING,
    * so absolute by-reference entries (clones) index cleanly and no
    * path nesting leaks into the index dir. */
  private def sidecarName(f: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(f.getBytes("UTF-8"))
    d.map("%02x".format(_)).mkString + ".bloom"
  }

  /** The driver-side twin of the executor-side `xxhash64(cast(col as
    * string))` the index builder hashes with: values canonicalize
    * through their string form, so one sidecar serves any type that
    * prints the same (the min/max stats contract). */
  private def keyHash(value: Any): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal.create(
        org.apache.spark.unsafe.types.UTF8String.fromString(String.valueOf(value)),
        org.apache.spark.sql.types.StringType)),
      42L).eval(null).asInstanceOf[Long]

  /** Build (or extend) the per-file Bloom-filter index on `colName` —
    * the point-lookup complement of the min/max skip index: min/max
    * prunes RANGE predicates on clustered layouts, a Bloom sidecar
    * prunes `col = value` lookups on ANY layout (an id column scattered
    * uniformly across files has useless min/max but a near-perfect
    * Bloom answer).
    *
    * Delta stores Bloom indexes as per-file sidecars rather than log
    * entries for a reason this follows: filter bytes scale with file
    * row counts (~1.2 MB/million rows at fpp 0.01) and would bloat
    * every manifest; as sidecars they load lazily, only for files that
    * survive manifest+stats pruning. Layout:
    * `<table>/_index/bloom/<col>/<md5(entry)>.bloom`.
    *
    * INCREMENTAL and idempotent: each call indexes only head files
    * missing a sidecar (data files are immutable, so a sidecar never
    * goes stale; [[vacuum]] GCs sidecars of dropped files). The build
    * is ONE Spark pass over exactly the missing files: filters size
    * from the manifest's per-file row counts (free — every commit
    * records them); only files predating row-count tracking pay a
    * dedicated counting pre-pass. A streaming groupByKey then inserts
    * `xxhash64(string form)` per row — constant memory per task,
    * filter bytes (not rows) to the driver, bounded by the new-file
    * count like every other catalog artifact. Returns the number of
    * sidecars written. */
  def buildBloomIndex(spark: SparkSession, path: String, colName: String,
                      fpp: Double = 0.01): Int = {
    val v = currentVersion(spark, path).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    val schema = StructType.fromDDL(m.schemaDdl)
    require(schema.fieldNames.contains(colName),
      s"TxLog.buildBloomIndex: no column '$colName' in ${m.schemaDdl}")
    require(!m.partitionCols.contains(colName),
      "TxLog.buildBloomIndex: the partition column is pruned by " +
        "directory, it needs no Bloom index")
    val fs = fsFor(spark, path)
    // sidecar dirs are keyed by PHYSICAL name (stable across renames)
    val dir = bloomDir(path, physOf(m, colName))
    fs.mkdirs(dir)
    val missing = m.files.filterNot(f =>
      fs.exists(new Path(dir, sidecarName(f))))
    if (missing.isEmpty) return 0
    import org.apache.spark.sql.functions.{col, input_file_name, xxhash64}
    import spark.implicits._
    // input_file_name URIs map back to manifest entries through
    // entryResolver (raw suffix, then its URL-decoded form, loud
    // failure otherwise)
    val entryOf = entryResolver(missing)
    val hashed = readFiles(spark, path, m, missing)
      .select(input_file_name().as("_f"),
        xxhash64(col(colName).cast("string")).as("_h"))
    // filter sizing: the manifest's per-commit row counts cover most
    // files for free; only files that predate fileRows tracking pay a
    // dedicated counting pass
    val known = missing.flatMap(f => m.fileRows.get(f).map(f -> _)).toMap
    val counts: Map[String, Long] =
      if (known.size == missing.size) Map.empty
      else hashed.groupBy("_f").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    // pass 2: stream rows into exactly-sized filters, ship bytes only;
    // the expected sizes (file-count-bounded maps) ride the task closure
    val blooms = hashed.as[(String, Long)]
      .groupByKey(_._1)
      .mapGroups { (f, it) =>
        val expected = counts.getOrElse(f, known.getOrElse(entryOf(f), 1L))
        val bf = org.apache.spark.util.sketch.BloomFilter
          .create(math.max(expected, 1L), fpp)
        it.foreach { case (_, h) => bf.putLong(h) }
        val bos = new java.io.ByteArrayOutputStream()
        bf.writeTo(bos)
        (f, bos.toByteArray)
      }
      .collect()
    blooms.foreach { case (uri, bytes) =>
      val out = fs.create(new Path(dir, sidecarName(entryOf(uri))), true)
      try out.write(bytes) finally out.close()
    }
    blooms.length
  }

  /** Files of a version that might hold `colName = value`: min/max
    * stats prune first (free — they ride the manifest), then each
    * surviving file's Bloom sidecar votes. Files without a sidecar are
    * conservatively kept, so the index is always an optimization,
    * never a filter; false positives only cost a file read. */
  def prunedFilesByKey(spark: SparkSession, path: String, colName: String,
                       value: Any, version: Option[Long] = None): Seq[String] = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val byStats = prunedFiles(spark, path, colName, value, value, Some(v))
    bloomPruneByKeys(spark, path, physOf(manifest(spark, path, v), colName),
      Seq(value), byStats)
  }

  /** Point lookup WITH Bloom + stats skipping: semantically identical
    * to `read(...).filter(col === value)` — the exact predicate still
    * applies on the scan — but only files whose stats and Bloom
    * sidecar admit the key are planned at all. On an id-keyed ingest
    * that turns a needle lookup over a wide table into a one-file
    * scan. */
  def readByKey(spark: SparkSession, path: String, colName: String,
                value: Any, version: Option[Long] = None): DataFrame = {
    val v = version.orElse(currentVersion(spark, path)).getOrElse(
      throw new IllegalArgumentException(s"TxLog: no table at $path"))
    val m = manifest(spark, path, v)
    val files = prunedFilesByKey(spark, path, colName, value, Some(v))
    import org.apache.spark.sql.functions.{col, lit}
    readFiles(spark, path, m, files)
      .filter(col(colName) === lit(value))
  }
}
