package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, BoundReference, Cast, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

import graft.storage.TxLog

/** The BATCH read path for `spark.read.format("graft-txlog")` — the
  * Delta pattern: a plain `BaseRelation` backed by [[TxLogFileIndex]],
  * a manifest-driven `FileIndex`, wrapped in Spark's own
  * `HadoopFsRelation` + `ParquetFileFormat`. Everything downstream is
  * stock Spark: vectorized parquet, whole-stage codegen, filter and
  * column pushdown — the index only answers "which files", exactly
  * like Delta's TahoeFileIndex.
  *
  * What the index adds over a directory listing:
  *  - the file list IS the resolved manifest (snapshot isolation and
  *    `versionAsOf`/`timestampAsOf` time travel for free — no
  *    directory scan, no eventual-consistency caveats);
  *  - PARTITION pruning evaluates the scan's partition filters
  *    against each manifest partition directory's typed values —
  *    driver-side, partition-count bounded;
  *  - DATA skipping evaluates the scan's data filters against the
  *    manifest's per-file min/max stats through the ONE shared vote
  *    ([[TxLog.statsBound]], [[TxLog.statsCompare]],
  *    [[TxLog.statsAdmits]] — the same rule [[TxLog.prunedFiles]]
  *    runs): a `WHERE k = 5` over a k-clustered table plans a few
  *    files before a single task launches. Files without stats are
  *    conservatively kept — pruning is an optimization, never a
  *    filter (the exact predicate still runs on the scan).
  *
  * [[TxLog.read]] and every TxLog verb that reads a snapshot scan
  * through the same index ([[TxLogBatch.relation]]): building such a
  * read stats the manifest's files on the driver and runs no Spark job.
  *
  * `wholeVersion` says that `m` lists every file of version
  * `m.version`: that version's columnar checkpoint may then serve
  * planning above the distributed threshold. A file subset plans on
  * the driver — a checkpoint enumerates the whole version.
  *
  * `viewColMap` is the table's logical → physical map when `m` is a
  * reader's view spelled in PHYSICAL names ([[TxLog.read]]'s view,
  * whose own `colMap` is empty); ANALYZE statistics, keyed by logical
  * names, translate through it onto this schema. A mount spelled in
  * logical names passes Nil.
  */
class TxLogFileIndex(spark: SparkSession,
                     private[graft] val tablePath: String,
                     private[graft] val m: TxLog.Manifest,
                     wholeVersion: Boolean,
                     private[graft] val viewColMap: Seq[(String, String)] = Nil)
    extends FileIndex {
  import TxLogFileIndex.{admitsNull, dirPartOfEntry, partitionValuesOf}

  private val declared = StructType.fromDDL(m.schemaDdl)
  private val sessionTz = spark.sessionState.conf.sessionLocalTimeZone
  /** Logical → physical name (identity when never renamed): partition
    * DIRECTORIES and stats keys live next to the files and spell
    * physical names; the relation's schema and the scan's filters
    * spell logical ones. */
  private def physName(l: String): String =
    m.colMap.find(_._1 == l).map(_._2).getOrElse(l)
  /** Hidden partition transforms (empty for plain tables): the dirs
    * spell DERIVED values, the relation's schema spells only raw
    * columns, and raw-space data filters translate into dir votes. */
  private val hiddenSpec: Seq[graft.storage.PartitionTransforms.Transform] =
    graft.storage.PartitionTransforms.parseAll(m.partitionSpec, declared)
  /** HIDDEN layouts surface NO partition columns — their derived dir
    * values are not schema columns, so every predicate arrives as a
    * data filter and prunes through the transform translation. */
  override val partitionSchema: StructType =
    if (m.partitionSpec.nonEmpty) new StructType()
    else StructType(m.partitionCols.map(declared.apply))
  /** Physical name per partition field, aligned to [[partitionSchema]]. */
  private val physPartNames: Seq[String] =
    partitionSchema.map(f => physName(f.name)).toSeq

  private def isAbs(f: String): Boolean = f.startsWith("/") || f.contains("://")
  private def absPath(f: String): Path =
    if (isAbs(f)) new Path(f) else new Path(new Path(tablePath, "data"), f)
  private def dirPartOf(f: String): String = dirPartOfEntry(f)

  /** Manifest entry count above which planning runs as a SPARK JOB
    * over the columnar checkpoint instead of a driver-side walk
    * (`graft.txlog.distributedIndexThreshold`). Below it the driver
    * walk wins — no job-launch latency on small tables; above it the
    * driver handles SURVIVORS only: a 10^6-file manifest never costs
    * 10^6 driver stat RPCs or a 10^6-entry driver filter loop at every
    * query's planning. */
  private val distributedThreshold: Long =
    spark.conf.getOption("graft.txlog.distributedIndexThreshold")
      .map(_.toLong).getOrElse(100000L)
  /** Distributed mode needs the columnar enumeration; an on-demand
    * checkpoint write (one distributed job, idempotent, amortized over
    * every later planning) covers versions between interval
    * checkpoints. A failed write degrades to the driver walk. */
  private lazy val distributed: Boolean =
    wholeVersion && m.files.size >= distributedThreshold &&
      // the logged manifest, not `m`: a reader's view of it (physical
      // names, its own DV state) must never become the checkpoint
      TxLog.ensureCheckpoint(spark, tablePath,
        TxLog.manifest(spark, tablePath, m.version))

  /** One FileStatus per manifest entry — resolved once at first
    * DRIVER-path planning (file-count-bounded driver work, same class
    * as every manifest walk) so repeated planning never re-stats.
    * Never touched in distributed mode: len/mtime ride the checkpoint
    * rows there. */
  private lazy val statuses: Seq[(String, FileStatus)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    m.files.map { f =>
      val p = absPath(f)
      f -> p.getFileSystem(conf).getFileStatus(p)
    }
  }

  /** Partition-dir string → typed InternalRow of the partition values
    * (unescaped, `__HIVE_DEFAULT_PARTITION__` → null, cast via the
    * declared schema exactly like [[TxLog.read]]'s contract). */
  private def valuesOf(dir: String): InternalRow =
    partitionValuesOf(dir, partitionSchema, physPartNames, sessionTz)

  private lazy val byDir: Seq[(String, InternalRow, Seq[(String, FileStatus)])] =
    statuses.groupBy { case (f, _) => dirPartOf(f) }.toSeq.sortBy(_._1)
      .map { case (dir, fs) => (dir, valuesOf(dir), fs) }

  /** Bind by NAME against the partition schema — the filters arrive
    * referencing the relation's attributes. */
  private def boundPartPredicate(partitionFilters: Seq[Expression])
      : Option[Expression] =
    if (partitionFilters.isEmpty || partitionSchema.isEmpty) None
    else Some(partitionFilters.reduce(And).transform {
      case a: AttributeReference =>
        val i = partitionSchema.fieldIndex(a.name)
        BoundReference(i, partitionSchema(i).dataType, nullable = true)
    })

  private def pruneDirs(dirs: Seq[(String, InternalRow, Seq[(String, FileStatus)])],
                        partitionFilters: Seq[Expression]) =
    boundPartPredicate(partitionFilters) match {
      case None => dirs
      case Some(bound) =>
        val pred = Predicate.createInterpreted(bound)
        pred.initialize(0)
        dirs.filter { case (_, values, _) => pred.eval(values) }
    }

  /** ONE simple comparison against a literal as (column, lo, hi) —
    * the planner's only step of its own: the stats vote encodes the
    * bounds through [[TxLog.statsBound]], and hidden-transform pruning
    * takes the typed CATALYST values (micros, days, the hash input).
    * Null literals never vote. */
  private def rangeOf(e: Expression)
      : Option[(String, Option[Literal], Option[Literal])] = e match {
    case EqualTo(a: AttributeReference, l: Literal) if l.value != null =>
      Some((a.name, Some(l), Some(l)))
    case EqualTo(l: Literal, a: AttributeReference) if l.value != null =>
      Some((a.name, Some(l), Some(l)))
    case EqualNullSafe(a: AttributeReference, l: Literal) if l.value != null =>
      Some((a.name, Some(l), Some(l)))
    case GreaterThan(a: AttributeReference, l: Literal) if l.value != null =>
      Some((a.name, Some(l), None))
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
      Some((a.name, Some(l), None))
    case LessThan(a: AttributeReference, l: Literal) if l.value != null =>
      Some((a.name, None, Some(l)))
    case LessThanOrEqual(a: AttributeReference, l: Literal) if l.value != null =>
      Some((a.name, None, Some(l)))
    case GreaterThan(l: Literal, a: AttributeReference) if l.value != null =>
      Some((a.name, None, Some(l)))
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) if l.value != null =>
      Some((a.name, None, Some(l)))
    case LessThan(l: Literal, a: AttributeReference) if l.value != null =>
      Some((a.name, Some(l), None))
    case LessThanOrEqual(l: Literal, a: AttributeReference) if l.value != null =>
      Some((a.name, Some(l), None))
    case _ => None
  }

  /** Skip votes resolved to their serializable form: (PHYSICAL stats
    * key, comparison, lo, hi) — everything an executor needs to run
    * [[TxLog.statsAdmits]], the SAME vote the driver walk and
    * [[TxLog.prunedFiles]] run. Types without an order-preserving
    * encoding never vote. */
  private def voteSpecs(dataFilters: Seq[Expression])
      : Seq[(String, TxLog.StatsCompare, Option[String], Option[String])] =
    dataFilters.flatMap(rangeOf).flatMap { case (c, lo, hi) =>
      if (!m.statsCols.contains(physName(c))) None
      else {
        val dt = declared(c).dataType
        def enc(l: Option[Literal]) = l.flatMap(TxLog.statsBound(dt, sessionTz, _))
        TxLog.statsCompare(dt).map(cmp => (physName(c), cmp, enc(lo), enc(hi)))
      }
    }

  /** (PHYSICAL stats key, wantNull) votes from IsNull/IsNotNull on
    * tracked columns. Spark pushes IsNotNull next to every comparison,
    * so an ALL-null file prunes even though it records no min/max to
    * range-vote with — and IS NULL prunes every file whose tracked
    * null count is zero. */
  private def nullVoteSpecs(dataFilters: Seq[Expression]): Seq[(String, Boolean)] =
    dataFilters.flatMap {
      case IsNull(a: AttributeReference)
        if m.statsCols.contains(physName(a.name)) =>
        Some((physName(a.name), true))
      case IsNotNull(a: AttributeReference)
        if m.statsCols.contains(physName(a.name)) =>
        Some((physName(a.name), false))
      case _ => None
    }

  private def skipByStats(files: Seq[(String, FileStatus)],
                          dataFilters: Seq[Expression]) = {
    val votes = voteSpecs(dataFilters)
    val nv = nullVoteSpecs(dataFilters)
    if (votes.isEmpty && nv.isEmpty) files
    else files.filter { case (entry, _) =>
      votes.forall { case (k, cmp, lo, hi) =>
        TxLog.statsAdmits(m.fileStats.get(entry).flatMap(_.get(k)), cmp, lo, hi) } &&
      nv.forall { case (k, want) =>
        admitsNull(m.fileNulls.get(entry).flatMap(_.get(k)),
          m.fileRows.get(entry), want) }
    }
  }

  /** Data filters on a transform's SOURCE column → dir-value votes. */
  private def hiddenVotesOf(dataFilters: Seq[Expression])
      : Seq[graft.storage.PartitionTransforms.HiddenVote] =
    if (hiddenSpec.isEmpty) Nil
    else dataFilters.flatMap(rangeOf).flatMap { case (c, lo, hi) =>
      if (!declared.fieldNames.contains(c)) Nil
      else hiddenSpec.filter(_.src == c)
        .flatMap(_.voteFor(declared(c).dataType, lo.map(_.value), hi.map(_.value)))
    }

  override def listFiles(partitionFilters: Seq[Expression],
                         dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    if (distributed) listFilesDistributed(partitionFilters, dataFilters)
    else {
      val hv = hiddenVotesOf(dataFilters)
      val dirs0 = pruneDirs(byDir, partitionFilters)
      val dirs =
        if (hv.isEmpty) dirs0
        else dirs0.filter { case (d, _, _) =>
          graft.storage.PartitionTransforms.admitDir(d, hv) }
      dirs.map { case (_, values, fs) =>
        PartitionDirectory(values, skipByStats(fs, dataFilters).map(_._2).toArray)
      }
    }

  /** The driver walk as a SPARK JOB over the columnar checkpoint: each
    * task evaluates the bound partition predicate (per-dir memoized)
    * and the stats votes over its slice of the enumeration and ships
    * back SURVIVORS ONLY — driver memory and work scale with the
    * query's selectivity, not the table's file count. FileStatuses
    * build from the checkpoint's len/mtime (statted distributed at
    * checkpoint-write time); a pre-r12 checkpoint row (null len)
    * falls back to one driver stat — survivor-bounded. */
  private def listFilesDistributed(partitionFilters: Seq[Expression],
                                   dataFilters: Seq[Expression])
      : Seq[PartitionDirectory] = {
    val votes = voteSpecs(dataFilters)
    val nv = nullVoteSpecs(dataFilters)
    val hv = hiddenVotesOf(dataFilters)
    val bound = boundPartPredicate(partitionFilters)
    val pSchema = partitionSchema
    val physNames = physPartNames
    val tz = sessionTz
    val survivors: Array[(String, Long, Long)] = spark.read
      .schema(TxLog.checkpointSchema)
      .parquet(TxLog.checkpointDir(tablePath, m.version).toString)
      .rdd.mapPartitions { it =>
        val pred = bound.map(Predicate.createInterpreted)
        pred.foreach(_.initialize(0))
        val dirOk = scala.collection.mutable.HashMap.empty[String, Boolean]
        it.flatMap { r =>
          val f = r.getString(0)
          val dir = dirPartOfEntry(f)
          val ok = pred.forall(p => dirOk.getOrElseUpdate(dir,
              p.eval(partitionValuesOf(dir, pSchema, physNames, tz)))) &&
            (hv.isEmpty ||
              graft.storage.PartitionTransforms.admitDir(dir, hv)) &&
            (votes.isEmpty || {
              val stats: Option[Map[String, (String, String)]] =
                if (r.isNullAt(2)) None
                else Some(r.getAs[scala.collection.Map[
                    String, scala.collection.Seq[String]]](2)
                  .map { case (c, a) => c -> ((a(0), a(1))) }.toMap)
              votes.forall { case (k, cmp, lo, hi) =>
                TxLog.statsAdmits(stats.flatMap(_.get(k)), cmp, lo, hi) }
            }) &&
            (nv.isEmpty || {
              val nulls =
                if (r.isNullAt(3)) None // pre-nulls checkpoint: fail open
                else Some(r.getAs[scala.collection.Map[String, Long]](3))
              val rowsN = if (r.isNullAt(1)) None else Some(r.getLong(1))
              nv.forall { case (k, want) =>
                admitsNull(nulls.flatMap(_.get(k)), rowsN, want) }
            })
          if (!ok) None
          else Some((f, if (r.isNullAt(4)) -1L else r.getLong(4),
            if (r.isNullAt(5)) 0L else r.getLong(5)))
        }
      }.collect()
    val conf = spark.sparkContext.hadoopConfiguration
    survivors.groupBy(s => dirPartOf(s._1)).toSeq.sortBy(_._1)
      .map { case (dir, fs) =>
        PartitionDirectory(valuesOf(dir), fs.map { case (f, len, mtime) =>
          val p = absPath(f)
          if (len >= 0L) new FileStatus(len, false, 1, 134217728L, mtime, p)
          else p.getFileSystem(conf).getFileStatus(p)
        })
      }
  }

  override def rootPaths: Seq[Path] = Seq(new Path(tablePath))
  override def inputFiles: Array[String] =
    m.files.map(absPath(_).toString).toArray
  override def refresh(): Unit = () // a manifest snapshot is immutable
  override lazy val sizeInBytes: Long =
    if (distributed) {
      import org.apache.spark.sql.functions.{coalesce, lit, sum, col}
      val r = spark.read.schema(TxLog.checkpointSchema)
        .parquet(TxLog.checkpointDir(tablePath, m.version).toString)
        .agg(sum(coalesce(col("len"), lit(0L)))).head()
      if (r.isNullAt(0)) 0L else r.getLong(0)
    } else statuses.map(_._2.getLen).sum
}

object TxLogFileIndex {
  /** Data-root-relative dir of a manifest entry (clone refs resolve
    * through their own `/data/`) — the partition-dir key the
    * manifest's stats and directories are expressed in. */
  private[sources] def dirPartOfEntry(f: String): String = {
    val abs = f.startsWith("/") || f.contains("://")
    val rel =
      if (!abs) f
      else {
        val i = f.lastIndexOf("/data/")
        if (i >= 0) f.substring(i + "/data/".length) else f.split('/').last
      }
    rel.split('/').dropRight(1).mkString("/")
  }

  /** Partition-dir string → typed InternalRow of the partition values
    * (unescaped, `__HIVE_DEFAULT_PARTITION__` → null, cast via the
    * declared schema in the SESSION tz exactly like [[TxLog.read]]'s
    * contract — stageIn's writer formats timestamp partition values in
    * the session timezone, so a UTC cast-back would shift instants).
    * `physNames` is the physical name per partition field (the
    * directories spell physical names — renames never move files). */
  private[sources] def partitionValuesOf(dir: String, partitionSchema: StructType,
                                         physNames: Seq[String],
                                         tz: String): InternalRow = {
    if (partitionSchema.isEmpty) return InternalRow.empty
    val byName = dir.split('/').filter(_.nonEmpty).map { seg =>
      val i = seg.indexOf('=')
      require(i > 0, s"TxLogFileIndex: malformed partition dir '$dir'")
      seg.substring(0, i) -> seg.substring(i + 1)
    }.toMap
    InternalRow.fromSeq(partitionSchema.zipWithIndex.map { case (field, i) =>
      val raw = byName.getOrElse(physNames(i),
        ExternalCatalogUtils.DEFAULT_PARTITION_NAME)
      if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
      else Cast(Literal(ExternalCatalogUtils.unescapePathName(raw)),
        field.dataType, Some(tz)).eval(null)
    })
  }

  /** Null-count skip vote. `wantNull` (an IS NULL filter) prunes files
    * whose tracked null count is ZERO; `!wantNull` (IS NOT NULL —
    * pushed beside every comparison) prunes files that are ALL-null in
    * the column. Unknown counts or row totals fail OPEN. */
  private[sources] def admitsNull(nulls: Option[Long], rows: Option[Long],
                                  wantNull: Boolean): Boolean =
    if (wantNull) nulls.forall(_ > 0L)
    else !nulls.exists(n => rows.exists(n >= _))
}

/** The table's parquet format: stock `ParquetFileFormat` plus the two
  * manifest-driven concerns a TxLog snapshot adds —
  *
  * **Column mapping** (`colMap` nonEmpty): a renamed column's data
  * still lives under its ORIGINAL physical name in every file, so the
  * required schema and the pushed filters translate logical→physical
  * before reaching the reader. `InternalRow`s are positional — the
  * translation is purely schema-level, zero per-row work, and
  * vectorized/columnar delivery is untouched.
  *
  * **Deletion vectors** (`dvFiles` nonEmpty): the seam that makes
  * MERGE-ON-READ tables batch-mountable. Same trick Delta uses —
  * append Spark's TEMPORARY ROW-INDEX column to the required schema
  * (the parquet readers generate it split- and pushdown-safely from
  * the file's row-group offsets), drop rows whose (file, row_index)
  * is in the snapshot's deletion vectors, then strip the column back
  * out. Everything else is stock: filter pushdown, column pruning and
  * split planning all still apply (a pruned row group just never
  * surfaces its indexes — the DV filter only ever REMOVES rows, so
  * skipping is unaffected).
  *
  * Row-based delivery ([[supportBatch]] = false) only under DVs: DV
  * filtering is per-row, and a DV-bearing snapshot is transitional by
  * design — OPTIMIZE/compact materializes the deletes and the
  * relation goes back to columnar.
  *
  * The DV map (file-key → sorted deleted row indexes) is
  * DELETE-SIZED, loaded once driver-side and broadcast — the same
  * budget TxLog.read's anti-join already spends, minus the join
  * (above [[TxLogBatch.dvBroadcastMaxRows]] the relation falls back
  * to the anti-join seam instead; see [[TxLogJoinRelation]]). */
class TxLogParquetFileFormat(
    val tablePath: String,
    val colMap: Seq[(String, String)],
    val dvFiles: Seq[String],
    val dvBySuffix: org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]])
  extends org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat {

  import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat => PFF}
  import org.apache.spark.sql.sources

  override def supportBatch(sparkSession: SparkSession,
                            schema: StructType): Boolean =
    dvFiles.isEmpty && super.supportBatch(sparkSession, schema)

  /** Logical → physical for a (possibly dotted) pushed-filter or
    * schema name; only top-level columns rename, nested paths keep
    * their tail. */
  private def physName(n: String): String =
    colMap.find(_._1 == n).map(_._2).getOrElse {
      val dot = n.indexOf('.')
      if (dot < 0) n
      else colMap.find(_._1 == n.substring(0, dot))
        .map(_._2 + n.substring(dot)).getOrElse(n)
    }

  private def physFilter(f: sources.Filter): Option[sources.Filter] = f match {
    case sources.EqualTo(a, v) => Some(sources.EqualTo(physName(a), v))
    case sources.EqualNullSafe(a, v) => Some(sources.EqualNullSafe(physName(a), v))
    case sources.GreaterThan(a, v) => Some(sources.GreaterThan(physName(a), v))
    case sources.GreaterThanOrEqual(a, v) =>
      Some(sources.GreaterThanOrEqual(physName(a), v))
    case sources.LessThan(a, v) => Some(sources.LessThan(physName(a), v))
    case sources.LessThanOrEqual(a, v) =>
      Some(sources.LessThanOrEqual(physName(a), v))
    case sources.In(a, vs) => Some(sources.In(physName(a), vs))
    case sources.IsNull(a) => Some(sources.IsNull(physName(a)))
    case sources.IsNotNull(a) => Some(sources.IsNotNull(physName(a)))
    case sources.StringStartsWith(a, v) =>
      Some(sources.StringStartsWith(physName(a), v))
    case sources.StringEndsWith(a, v) =>
      Some(sources.StringEndsWith(physName(a), v))
    case sources.StringContains(a, v) =>
      Some(sources.StringContains(physName(a), v))
    case sources.And(l, r) =>
      for { x <- physFilter(l); y <- physFilter(r) } yield sources.And(x, y)
    case sources.Or(l, r) =>
      for { x <- physFilter(l); y <- physFilter(r) } yield sources.Or(x, y)
    case sources.Not(c) => physFilter(c).map(sources.Not)
    // an unrecognized filter shape could smuggle a logical name past
    // the rename — drop it (pushdown is an optimization; the scan's
    // Filter node still evaluates the exact predicate)
    case _ => None
  }

  override def buildReaderWithPartitionValues(
      sparkSession: SparkSession,
      dataSchema: StructType,
      partitionSchema: StructType,
      requiredSchema: StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter],
      options: Map[String, String],
      hadoopConf: org.apache.hadoop.conf.Configuration)
      : org.apache.spark.sql.execution.datasources.PartitionedFile =>
        Iterator[InternalRow] = {
    // ---- column mapping: rename schemas + filters, positions stay ----
    val physData = StructType(dataSchema.fields.map(f => f.copy(name = physName(f.name))))
    val physRequired0 = StructType(requiredSchema.fields.map(f => f.copy(name = physName(f.name))))
    val physFilters =
      if (colMap.isEmpty) filters else filters.flatMap(physFilter)
    if (dvFiles.isEmpty)
      return super.buildReaderWithPartitionValues(sparkSession, physData,
        partitionSchema, physRequired0, physFilters, options, hadoopConf)
    // ---- deletion vectors: row-index column + per-file anti-filter ----
    val tmpName = PFF.ROW_INDEX_TEMPORARY_COLUMN_NAME
    // the scan may ALREADY request row indexes (_metadata.row_index);
    // reuse its column instead of requesting a duplicate
    val hasIdx = physRequired0.fieldNames.contains(tmpName)
    val readSchema =
      if (hasIdx) physRequired0
      else StructType(physRequired0.fields :+
        // NULLABLE is load-bearing: the vectorized reader only routes a
        // requested-but-absent column into its row-index synthesis when
        // checkColumn classifies it as missing-and-optional — a required
        // missing column fails the scan before the name is ever matched
        // (VectorizedParquetRecordReader.checkColumn → missingColumns →
        // ParquetColumnVector's isRowIndexColumn branch)
        org.apache.spark.sql.types.StructField(tmpName,
          org.apache.spark.sql.types.LongType, nullable = true))
    val base = super.buildReaderWithPartitionValues(sparkSession, physData,
      partitionSchema, readSchema, physFilters, options, hadoopConf)
    val idxOrd = readSchema.fieldIndex(tmpName)
    // the reader's row layout: required fields then partition values
    val outFields = readSchema.fields ++ partitionSchema.fields
    val dv = dvBySuffix
    file => {
      // the same key the DV writer computed (input_file_name's
      // encoding): data-root-relative suffix after the last '/data/'
      val url = file.urlEncodedPath
      val i = url.lastIndexOf("/data/")
      // mirror the writer EXACTLY: substring_index(url, '/data/', -1)
      // returns the WHOLE url when '/data/' is absent — a bare-filename
      // fallback here would never match such DV entries and deleted
      // rows would silently resurrect
      val key = if (i >= 0) url.substring(i + "/data/".length) else url
      val deleted = dv.value.getOrElse(key, null)
      val rows0 = base(file)
      val rows =
        if (deleted == null) rows0
        else rows0.filter(r =>
          java.util.Arrays.binarySearch(deleted, r.getLong(idxOrd)) < 0)
      if (hasIdx) rows // the scan asked for the index column — keep it
      else {
        val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
          .create(outFields.indices.filterNot(_ == idxOrd).map(j =>
            BoundReference(j, outFields(j).dataType, outFields(j).nullable)))
        rows.map(proj)
      }
    }
  }

  // distinct DV/rename states must never plan-cache/exchange-reuse as
  // equal (stock ParquetFileFormat.equals treats ALL instances as equal)
  override def equals(other: Any): Boolean = other match {
    case o: TxLogParquetFileFormat =>
      o.tablePath == tablePath && o.colMap == colMap && o.dvFiles == dvFiles
    case _ => false
  }
  override def hashCode(): Int = (tablePath, colMap, dvFiles).hashCode()
  override def toString: String =
    s"GraftTxLogParquet(renames=${colMap.size}, dv=${dvFiles.size})"
}

object TxLogBatch {
  /** Spark's own `HadoopFsRelation` over a [[TxLogFileIndex]] on `m` —
    * the one plan the `graft-txlog` format door, the `graft.*` catalog
    * and [[TxLog.read]] all scan through. HIDDEN layouts surface no
    * partition columns (the dirs spell derived transform values and the
    * raw data is complete in the files), so their data schema is the
    * whole declared schema. */
  def relation(spark: SparkSession, path: String, m: TxLog.Manifest,
               wholeVersion: Boolean,
               fileFormat: org.apache.spark.sql.execution.datasources.FileFormat,
               bucketSpec: Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = None,
               options: Map[String, String] = Map.empty,
               viewColMap: Seq[(String, String)] = Nil)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    val index = new TxLogFileIndex(spark, path, m, wholeVersion, viewColMap)
    val partCols = index.partitionSchema.fieldNames.toSet
    org.apache.spark.sql.execution.datasources.HadoopFsRelation(index,
      partitionSchema = index.partitionSchema,
      dataSchema = StructType(StructType.fromDDL(m.schemaDdl)
        .filterNot(f => partCols(f.name))),
      bucketSpec = bucketSpec, fileFormat = fileFormat, options = options)(spark)
  }

  /** Driver-side load of a snapshot's deletion vectors into
    * (file-key → SORTED deleted row indexes) — delete-sized, the same
    * rows [[TxLog.read]]'s anti-join streams, collected once and
    * broadcast so every scan task probes a local array. Callers gate
    * on [[dvBroadcastMaxRows]] BEFORE invoking (the manifest's
    * per-entry counts price the collect without reading a byte);
    * over-budget snapshots mount through [[TxLogJoinRelation]]. */
  def loadDvMap(spark: SparkSession, tablePath: String,
                m: TxLog.Manifest): Map[String, Array[Long]] =
    spark.read
      .parquet(m.dv.map { case (f, _) => TxLog.dvPath(tablePath, f) }: _*)
      .select("f", "row_index").collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        val a = rows.map(_.getLong(1)); java.util.Arrays.sort(a); k -> a
      }

  /** Deleted-row budget for the broadcast DV map, overridable via
    * `graft.txlog.dvBroadcastMaxRows`. 4M (row_index longs + file-key
    * strings ≈ tens of MB broadcast) is comfortably inside a default
    * driver/executor budget; above it the mount serves through the
    * distributed anti-join seam instead of a driver-side collect. */
  val DvBroadcastMaxRowsDefault: Long = 4000000L
  def dvBroadcastMaxRows(spark: SparkSession): Long =
    spark.conf.getOption("graft.txlog.dvBroadcastMaxRows").map(_.toLong)
      .getOrElse(DvBroadcastMaxRowsDefault)

  /** Total deleted rows a snapshot carries — priced from the
    * manifest's per-entry counts alone, zero I/O. */
  def dvRowCount(m: TxLog.Manifest): Long =
    m.dv.iterator.map(_._2.valuesIterator.sum).sum

  /** Per-snapshot DV broadcast cache: repeated `.load()`s of the same
    * (table, version) reuse ONE broadcast instead of leaking one per
    * mount — a BI tool re-resolving per query would otherwise grow
    * driver memory for the session's lifetime. Evicted entries
    * unpersist lazily (a straggler query still holding the handle
    * refetches from the driver — an efficiency event, never a
    * correctness one). */
  private val dvBcastCacheMax = 64
  private val dvBcastCache = new java.util.LinkedHashMap[
      String, org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String,
          org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]]])
        : Boolean =
      if (size > dvBcastCacheMax) { e.getValue.unpersist(false); true }
      else false
  }
  def dvBroadcastFor(spark: SparkSession, tablePath: String, m: TxLog.Manifest)
      : org.apache.spark.broadcast.Broadcast[Map[String, Array[Long]]] =
    dvBcastCache.synchronized {
      val key = s"${spark.sparkContext.applicationId}|$tablePath|${m.version}|" +
        m.dv.map(_._1).mkString(",")
      val cached = dvBcastCache.get(key)
      if (cached != null) cached
      else {
        val b = spark.sparkContext.broadcast(
          if (m.dv.isEmpty) Map.empty[String, Array[Long]]
          else loadDvMap(spark, tablePath, m))
        dvBcastCache.put(key, b)
        b
      }
    }

  /** Spark's bucket-file id shape (`..._00003.c000.snappy.parquet`) —
    * the same pattern `BucketingUtils.getBucketId` parses. */
  private val BucketFileRe = """.*_(\d+)(?:\..*)?$""".r

  /** A real `BucketSpec` for snapshots hidden-partitioned by
    * `bucket(n, c)`: the transform's derivation IS Spark's bucket id
    * (`pmod(murmur3(c), n)` = `HashPartitioning.partitionIdExpression`)
    * and [[graft.storage.TxLog.stageIn]] embeds it in the staged file
    * names, so the mount reports `HashPartitioning(c, n)` and
    * equi-joins / aggregations on `c` plan WITHOUT a shuffle — the
    * co-located-join story at lake scale. Only offered when EVERY
    * manifest entry carries a parseable id (a table created before
    * this naming scheme degrades to a plain scan — never an error). */
  def bucketSpecOf(m: TxLog.Manifest)
      : Option[org.apache.spark.sql.catalyst.catalog.BucketSpec] = {
    if (m.partitionSpec.isEmpty) return None
    graft.storage.PartitionTransforms
      .parseAll(m.partitionSpec, StructType.fromDDL(m.schemaDdl))
      .collectFirst { case b: graft.storage.PartitionTransforms.Bucket => b }
      // every entry must carry a bucket id in its NAME and sit under
      // THIS transform's own derived directory — a partition-spec
      // evolution leaves old-layout files in the snapshot, and a
      // bucketed mount over those would hash-misroute their rows
      .filter(b => m.files.forall { f =>
        val okName = f.split('/').last match {
          case BucketFileRe(_) => true
          case _ => false
        }
        okName && f.split('/').dropRight(1)
          .exists(_.startsWith(b.dirName + "="))
      })
      .map(b => org.apache.spark.sql.catalyst.catalog.BucketSpec(
        // the writer sorts every bucket file by the source key, so the
        // spec declares it; Spark trusts the ordering only when a
        // bucket holds ONE file (optimizedWrite / post-OPTIMIZE state)
        // and sorts otherwise — correctness never depends on this
        b.n, Seq(b.src), Seq(b.src)))
  }

  /** Resolve the (path, version) a batch read targets from the
    * reader options: `versionAsOf` (a version number) or
    * `timestampAsOf` (ISO instant / SQL timestamp) — absent = head. */
  def resolve(spark: SparkSession,
              parameters: Map[String, String]): (String, TxLog.Manifest) = {
    val p = parameters.map { case (k, v) => k.toLowerCase -> v }
    val path = p.getOrElse("path", throw new IllegalArgumentException(
      "graft-txlog: option 'path' (the TxLog table directory) is required"))
    val version = p.get("versionasof").map(_.toLong)
      .orElse(p.get("timestampasof").map(ts =>
        TxLog.versionAt(spark, path, TxLog.parseTsMillis(ts))))
      .orElse(p.get("tagasof").map { t =>
        TxLog.tags(spark, path).getOrElse(t,
          throw new IllegalArgumentException(
            s"graft-txlog: no tag '$t' at $path"))
      })
      .orElse(TxLog.currentVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-txlog: no table at $path"))
    (path, TxLog.manifest(spark, path, version))
  }

  /** Build the batch-CDF relation from the reader options (pre-
    * lowercased keys). `startingVersion` is required — a change feed
    * with no start is a full-table read in disguise; `endingVersion`
    * defaults to the CURRENT head, resolved once here so the relation
    * is a stable snapshot diff however long the plan lives. */
  def cdfRelation(spark: SparkSession,
                  p: Map[String, String]): TxLogCdfRelation = {
    val path = p.getOrElse("path", throw new IllegalArgumentException(
      "graft-txlog: option 'path' (the TxLog table directory) is required"))
    // keys present = the snapshot-diff door (net changes per key);
    // keys ABSENT = the write-time capture door (TxLog.changeFeed):
    // keyless event feed, O(changed rows) per version, exact
    // preimages — needs graft.changeDataFeed declared on the table
    // for its row-changing commits
    val keys = p.get("keys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)
    // version endpoints, or timestamp endpoints resolved through the
    // same commit clock time travel uses (Delta's startingTimestamp /
    // endingTimestamp shape) — one spelling per endpoint
    require(!(p.contains("startingversion") && p.contains("startingtimestamp")),
      "graft-txlog: pass startingVersion OR startingTimestamp, not both")
    require(!(p.contains("endingversion") && p.contains("endingtimestamp")),
      "graft-txlog: pass endingVersion OR endingTimestamp, not both")
    val from = p.get("startingversion").map(_.toLong)
      .orElse(p.get("startingtimestamp").map(ts =>
        TxLog.versionAt(spark, path, TxLog.parseTsMillis(ts))))
      .getOrElse(throw new IllegalArgumentException(
        "graft-txlog: readChangeFeed=true needs startingVersion or " +
          "startingTimestamp (and an optional ending endpoint; " +
          "absent = current head)"))
    val to = p.get("endingversion").map(_.toLong)
      .orElse(p.get("endingtimestamp").map(ts =>
        TxLog.versionAt(spark, path, TxLog.parseTsMillis(ts))))
      .orElse(TxLog.currentVersion(spark, path))
      .getOrElse(throw new IllegalArgumentException(
        s"graft-txlog: no table at $path"))
    // a poller that caught up to head reads an EMPTY feed, not an
    // exception (r15 advice); a start past the end is a caller bug
    // and says so plainly
    require(from <= to,
      s"graft-txlog: startingVersion $from is past endingVersion $to " +
        s"at $path — the feed runs forward only")
    // rate limiting for huge version ranges (the streaming source's
    // maxFilesPerTrigger in spirit): maxVersionsPerRead CAPS the
    // window at from + N, so a backfill loops bounded chunks —
    // chunked reads union to exactly the uncapped feed (spec-pinned)
    val capped = p.get("maxversionsperread").map(_.toLong) match {
      case Some(n) =>
        require(n > 0, "graft-txlog: maxVersionsPerRead must be positive")
        math.min(to, from + n)
      case None => to
    }
    new TxLogCdfRelation(spark, path, from, capped, keys,
      p.get("withpreimages").exists(_.toBoolean))
  }
}

/** Fallback mount for snapshots whose deletion vectors exceed
  * [[TxLogBatch.dvBroadcastMaxRows]]: serves through [[TxLog.read]]'s
  * DISTRIBUTED anti-join seam instead of a driver-collected broadcast
  * map, so a huge MERGE-ON-READ delete never OOMs the driver at mount
  * time. Column pruning and every translatable filter still reach the
  * underlying parquet scan through the inner DataFrame's own planner;
  * Spark re-evaluates all filters above the relation (the default
  * `unhandledFilters` contract), so a partially-translated predicate
  * stays exact. Row-based by construction — the transitional state a
  * compact/OPTIMIZE resolves back to the columnar mount. [[TxLog.read]]
  * builds its [[TxLogBatch.relation]] directly, never through the
  * `graft-txlog` provider, so this fallback cannot recurse. */
class TxLogJoinRelation(spark: SparkSession,
                        private[graft] val path: String,
                        private[graft] val m: TxLog.Manifest)
  extends org.apache.spark.sql.sources.BaseRelation
    with org.apache.spark.sql.sources.PrunedFilteredScan {
  import org.apache.spark.sql.{functions => F, sources, Column, SQLContext}

  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = StructType.fromDDL(m.schemaDdl)
  override def sizeInBytes: Long = spark.sessionState.conf.defaultSizeInBytes

  private def colOf(n: String): Column =
    F.col("`" + n.replace("`", "``") + "`")
  /** sources.Filter → Column for the shapes worth pushing; None drops
    * the filter here (Spark still evaluates it above — optimization,
    * never a correctness gate). */
  private def translate(f: sources.Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(colOf(a) === F.lit(v))
    case sources.EqualNullSafe(a, v) => Some(colOf(a) <=> F.lit(v))
    case sources.GreaterThan(a, v) => Some(colOf(a) > F.lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(colOf(a) >= F.lit(v))
    case sources.LessThan(a, v) => Some(colOf(a) < F.lit(v))
    case sources.LessThanOrEqual(a, v) => Some(colOf(a) <= F.lit(v))
    case sources.In(a, vs) => Some(colOf(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(colOf(a).isNull)
    case sources.IsNotNull(a) => Some(colOf(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(colOf(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(colOf(a).endsWith(v))
    case sources.StringContains(a, v) => Some(colOf(a).contains(v))
    case sources.And(l, r) =>
      for { x <- translate(l); y <- translate(r) } yield x && y
    case sources.Or(l, r) =>
      for { x <- translate(l); y <- translate(r) } yield x || y
    case sources.Not(c) => translate(c).map(!_)
    case _ => None
  }

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[sources.Filter])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] = {
    val base = TxLog.read(spark, path, Some(m.version))
    val filtered = filters.flatMap(translate)
      .foldLeft(base)((df, c) => df.filter(c))
    // empty requiredColumns (count-style scans) → zero-column rows
    filtered.select(requiredColumns.map(colOf).toIndexedSeq: _*).rdd
  }

  override def toString: String =
    s"GraftTxLogJoinRelation($path@v${m.version}, dvRows=${TxLogBatch.dvRowCount(m)})"
}

/** Batch change-data-feed through the format door — the spelling most
  * CDC backfills use (Delta's `DeltaOptions.READ_CHANGE_FEED` shape):
  *
  *     spark.read.format("graft-txlog")
  *       .option("path", dir)
  *       .option("readChangeFeed", "true")
  *       .option("startingVersion", 1)
  *       .option("endingVersion", 4)       // absent = head
  *       .option("keys", "k1,k2")
  *       .load()
  *
  * Serves EXACTLY [[TxLog.changes]]' frame (the diff between the two
  * snapshot endpoints — same contract as the `graft_txlog_cdf` TVF
  * and the streaming source's change-feed mode, rewrite history
  * handled by design). `withPreimages=true` splits updates into
  * preimage/postimage rows for incremental-aggregate consumers.
  * Version endpoints resolve ONCE at relation build (snapshot
  * isolation); column pruning reaches the underlying diff through
  * PrunedScan, and Spark re-evaluates every filter above the relation
  * (the default unhandledFilters contract). */
class TxLogCdfRelation(spark: SparkSession, path: String,
                       fromVersion: Long, toVersion: Long,
                       keys: Seq[String], withPreimages: Boolean)
  extends org.apache.spark.sql.sources.BaseRelation
    with org.apache.spark.sql.sources.PrunedScan {
  import org.apache.spark.sql.{functions => F, SQLContext}

  // from == to (a caught-up CDC poller with the defaulted head as its
  // start) = an EMPTY feed in the CDF schema, never an exception
  private val df =
    if (keys.isEmpty)
      // the keyless write-time-capture door (handles from == to itself)
      TxLog.changeFeed(spark, path, fromVersion, toVersion)
    else if (fromVersion == toVersion) {
      val m = TxLog.manifest(spark, path, toVersion)
      val target = StructType.fromDDL(m.schemaDdl)
      val ordered = StructType(
        keys.map(k => target(k)) ++
          target.fields.filterNot(f => keys.contains(f.name)) :+
          org.apache.spark.sql.types.StructField("_change_type",
            org.apache.spark.sql.types.StringType))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ordered)
    } else TxLog.changes(spark, path, fromVersion, toVersion,
      keys, withPreimages)

  override def sqlContext: SQLContext = spark.sqlContext
  override val schema: StructType = df.schema

  override def buildScan(requiredColumns: Array[String])
      : org.apache.spark.rdd.RDD[org.apache.spark.sql.Row] =
    // empty requiredColumns (count-style scans) → zero-column rows
    df.select(requiredColumns.map(F.col).toIndexedSeq: _*).rdd

  override def toString: String =
    s"GraftTxLogCdfRelation($path v$fromVersion->v$toVersion)"
}
