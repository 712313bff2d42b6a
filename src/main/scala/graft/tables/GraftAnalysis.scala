package graft.tables

import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, Cast, EqualTo, ExprId, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types.LongType
import org.apache.spark.sql.graftbridge.ExprBridge
import org.apache.spark.sql.{Row, SparkSession}

import graft.storage.TxLog

/** The analysis-time bridge that makes `graft.*` tables first-class in
  * plain SQL (the Delta pattern: a V2 catalog resolves names, an
  * analyzer rule lowers the plans onto the engine's own machinery):
  *
  *  - a read of [[GraftTable]] becomes the V1 `HadoopFsRelation` mount
  *    — the SAME plan `spark.read.format("graft-txlog")` produces
  *    (vectorized parquet, codegen, pushdown, manifest pruning), which
  *    no V2 `ScanBuilder` could return. The replacement keeps the V2
  *    relation's output attributes, so references above stay resolved;
  *  - DELETE / UPDATE / MERGE logical plans (which Spark only executes
  *    natively for `SupportsRowLevelOperations` tables) lower onto the
  *    transactional verbs `deleteWhere` / `updateWhere` / `mergeWhen`
  *    — each ONE atomic commit with file-granular OCC.
  *
  * Injected by `graft.GraftExtensions` as a post-hoc resolution rule:
  * it sees fully-resolved plans and runs before Spark's capability
  * checks would reject the unsupported-DML nodes. */
case class GraftAnalysis(spark: SparkSession) extends Rule[LogicalPlan] {

  private object GraftRel {
    def unapply(plan: LogicalPlan): Option[(GraftTable, Seq[Attribute])] =
      plan.collectFirst {
        case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
          (r.table.asInstanceOf[GraftTable], plan.output)
      }
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.resolveOperatorsDown {
      // PATH-door mounts (format("graft-txlog").load / the TVFs) carry
      // no CatalogTable — attach the same manifest rowCount + ANALYZE
      // NDV stats the catalog-name door gets, so CBO reorders
      // path-addressed joins too. Non-TxLog relations fall straight
      // through (same object back = no change).
      case lr: LogicalRelation if lr.catalogTable.isEmpty =>
        attachPathStats(lr)

      case d @ DeleteFromTable(GraftRel(t, out), condition) if d.resolved =>
        requireWritable(t)
        GraftDeleteCommand(t.path, render(condition, Set.empty))

      case u @ UpdateTable(GraftRel(t, out), assignments, condition)
          if u.resolved =>
        requireWritable(t)
        GraftUpdateCommand(t.path,
          assignments.map(a => assignKey(a.key) -> render(a.value, Set.empty)),
          condition.map(render(_, Set.empty)))

      case m: MergeIntoTable if m.resolved && isGraft(m.targetTable) =>
        lowerMerge(m)

      // ALTER TABLE ... ADD CONSTRAINT ... CHECK: Spark plans an
      // enforced CHECK as AddCheckConstraint over a V2 SCAN of the
      // table (to validate existing rows) — a scan shape this bridge
      // deliberately does not serve. TxLog.addConstraint IS that
      // operation: it probes the snapshot and refuses on violations,
      // then commits the constraint atomically with OCC revalidation.
      case a: AddCheckConstraint if a.resolved && isGraft(a.child) =>
        val (t, _) = GraftRel.unapply(a.child).get
        requireWritable(t)
        GraftAddConstraintCommand(t.path,
          a.checkConstraint.userProvidedName, a.checkConstraint.condition)

      // spark.readStream.table("graft.t"): lower the V2 streaming
      // relation onto the graft-txlog V1 Source (offsets = commit
      // versions, exactly-once, AvailableNow) — the same rewrite Delta
      // performs for streaming table reads. Reader options
      // (maxVersionsPerBatch, sinceVersion, ...) ride through; the
      // change feed changes the SCHEMA, so it stays with
      // readStream.format("graft-txlog") and refuses here loudly.
      case sr: org.apache.spark.sql.catalyst.streaming.StreamingRelationV2
          if sr.table.isInstanceOf[GraftTable] =>
        val t = sr.table.asInstanceOf[GraftTable]
        require(t.versionAsOf.isEmpty,
          s"graft.${t.name()}: cannot stream from a time-travel snapshot")
        import scala.jdk.CollectionConverters._
        val opts = sr.extraOptions.asScala.toMap
        require(!opts.keys.exists(_.equalsIgnoreCase("readChangeFeed")),
          s"graft.${t.name()}: the change feed adds a _change_type column " +
            "— read it via spark.readStream.format(\"graft-txlog\")" +
            ".option(\"readChangeFeed\", \"true\") instead of .table")
        val ds = org.apache.spark.sql.execution.datasources.DataSource(
          spark, className = "graft-txlog",
          options = opts + ("path" -> t.path))
        org.apache.spark.sql.execution.streaming.runtime.StreamingRelation(
          ds, "graft-txlog",
          sr.output.map(_.asInstanceOf[AttributeReference]))

      // plain reads (anything left after the DML cases): the V1 mount.
      // The mount arranges partition columns LAST while the table's
      // schema keeps the DECLARED order, so the relation mounts with
      // its own attribute layout and a zero-cost Project restores the
      // declared order under the V2 relation's exprIds — references
      // above stay resolved, column pruning passes through.
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftTable] =>
        val t = r.table.asInstanceOf[GraftTable]
        val rel = t.v1Relation
        val byName = r.output.map(a => a.name -> a).toMap
        val relAttrs = rel.schema.map { f =>
          val keep = byName(f.name)
          AttributeReference(f.name, f.dataType, f.nullable, f.metadata)(
            exprId = if (rel.schema.fieldNames.sameElements(
              r.output.map(_.name))) keep.exprId
            else org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId)
        }
        val lr = LogicalRelation(rel, relAttrs, catalogStats(t, rel),
          isStreaming = false, None)
        if (lr.output.map(_.exprId) == r.output.map(_.exprId)) lr
        else {
          val byNameRel = lr.output.map(a => a.name -> a).toMap
          Project(r.output.map { a =>
            org.apache.spark.sql.catalyst.expressions.Alias(
              byNameRel(a.name), a.name)(exprId = a.exprId)
          }, lr)
        }
    }

  /** ANALYZE-time statistics → CBO (r16 verdict #4): when the table
    * has persisted NDV sketches ([[graft.storage.Analyze]]), the mount
    * carries a synthetic `CatalogTable` whose `CatalogStatistics` give
    * Catalyst an exact rowCount (manifest fileRows minus DV deletes —
    * always live, never stale) and per-column distinctCount/nullCount.
    * With `spark.sql.cbo.enabled` (+ joinReorder) a 3+-table join then
    * reorders BEFORE its first shuffle — the decision AQE can only
    * retrofit after a stage has already run. Un-ANALYZEd tables attach
    * rowCount alone (the manifest knows it for free); stats attach is
    * inert unless CBO is on (`toPlanStats` falls back to sizeInBytes). */
  private def catalogStats(t: GraftTable,
                           rel: org.apache.spark.sql.sources.BaseRelation)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] =
    try {
      val v = t.versionAsOf.orElse(TxLog.currentVersion(spark, t.path))
        .getOrElse(return None)
      statsCatalogTable(t.path, v, TxLog.manifest(spark, t.path, v),
        t.name(), rel.schema, BigInt(rel.sizeInBytes))
    } catch { case _: Exception => None } // stats are advisory, never fatal

  /** The synthetic stats-bearing `CatalogTable` for ANY TxLog mount of
    * `path` at version `v` — shared by the catalog-name door above and
    * the PATH doors (r17 verdict #4: `format("graft-txlog").load(path)`
    * and the TVFs planned with sizeInBytes alone, so a path-addressed
    * 3-table join got no NDV-driven reorder even on an ANALYZEd
    * table). */
  private def statsCatalogTable(path: String, v: Long, m: TxLog.Manifest,
                                name: String,
                                schema: org.apache.spark.sql.types.StructType,
                                sizeInBytes: BigInt,
                                viewColMap: Seq[(String, String)] = Nil)
      : Option[org.apache.spark.sql.catalyst.catalog.CatalogTable] = {
    import org.apache.spark.sql.catalyst.catalog.{CatalogStatistics, CatalogStorageFormat, CatalogTable, CatalogTableType}
    import org.apache.spark.sql.catalyst.catalog.CatalogColumnStat
    try {
      // exact live rows: per-file counts minus DV-deleted rows; a file
      // without a tracked count (pre-stats history) forfeits rowCount
      val rowCount =
        if (!m.files.forall(m.fileRows.contains)) None
        else Some(BigInt(m.files.map(m.fileRows).sum -
          graft.sources.TxLogBatch.dvRowCount(m)))
      val ndv = graft.storage.Analyze.read(spark, path)
        .filter(_.analyzedVersion <= v) // never serve future stats to time travel
      if (rowCount.isEmpty && ndv.isEmpty) return None
      // NDVs are keyed by logical names; null counts, like every
      // per-file stat, by physical ones. A physical-name view
      // (viewColMap nonEmpty) keys its column stats physically too.
      def physOf(c: String): String =
        (m.colMap ++ viewColMap).find(_._1 == c).map(_._2).getOrElse(c)
      val nulls: Map[String, Long] = m.fileNulls.values
        .flatten.groupBy(_._1).map { case (c, xs) => c -> xs.map(_._2).sum }
      val colStats: Map[String, CatalogColumnStat] = ndv.map(_.cols.map {
        case (c, s) =>
          (if (viewColMap.isEmpty) c else physOf(c)) -> CatalogColumnStat(
            distinctCount = Some(BigInt(s.ndv)),
            nullCount = nulls.get(physOf(c)).map(BigInt(_)))
      }).getOrElse(Map.empty)
      Some(CatalogTable(
        identifier = org.apache.spark.sql.catalyst.TableIdentifier(name),
        tableType = CatalogTableType.EXTERNAL,
        storage = CatalogStorageFormat.empty,
        schema = schema,
        provider = Some("graft-txlog"),
        stats = Some(CatalogStatistics(
          sizeInBytes = sizeInBytes,
          rowCount = rowCount,
          colStats = colStats))))
    } catch { case _: Exception => None } // stats are advisory, never fatal
  }

  /** Attach the same statistics to PATH-door mounts: a bare
    * `LogicalRelation` whose relation is a TxLog mount (the format
    * door's HadoopFsRelation over [[graft.sources.TxLogFileIndex]], or
    * the DV-over-budget [[graft.sources.TxLogJoinRelation]]) gets the
    * synthetic CatalogTable the catalog door already carries. Fires
    * once per relation (the catalogTable-empty guard), costs one
    * ndv.json read per planning, and is advisory — any failure leaves
    * the relation as it was. */
  private def attachPathStats(lr: LogicalRelation): LogicalRelation = {
    val attached = lr.relation match {
      case fsRel: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        fsRel.location match {
          case idx: graft.sources.TxLogFileIndex =>
            statsCatalogTable(idx.tablePath, idx.m.version, idx.m,
              new org.apache.hadoop.fs.Path(idx.tablePath).getName,
              lr.relation.schema, BigInt(fsRel.sizeInBytes), idx.viewColMap)
          case _ => None
        }
      case jr: graft.sources.TxLogJoinRelation =>
        statsCatalogTable(jr.path, jr.m.version, jr.m,
          new org.apache.hadoop.fs.Path(jr.path).getName,
          jr.schema, BigInt(jr.sizeInBytes))
      case _ => None
    }
    attached.map(ct => lr.copy(catalogTable = Some(ct))).getOrElse(lr)
  }

  private def isGraft(plan: LogicalPlan): Boolean =
    GraftRel.unapply(plan).isDefined

  private def requireWritable(t: GraftTable): Unit =
    require(t.versionAsOf.isEmpty,
      s"graft.${t.name()}: cannot run DML against a time-travel snapshot")

  /** Render a resolved expression back to SQL over the verbs'
    * namespace: target columns by bare name, source columns (MERGE) as
    * `src.<name>` — the struct `mergeWhen` exposes. */
  private def render(e: Expression, srcIds: Set[ExprId]): String =
    e.transform {
      case a: AttributeReference if srcIds.contains(a.exprId) =>
        UnresolvedAttribute(Seq("src", a.name))
      case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
    }.sql

  private def assignKey(e: Expression): String = e match {
    case a: AttributeReference => a.name
    case other => throw new UnsupportedOperationException(
      s"graft: SET on a nested field is not supported ($other)")
  }

  private def stripCast(e: Expression): Expression = e match {
    case c: Cast => stripCast(c.child)
    case x => x
  }

  private def lowerMerge(m: MergeIntoTable): LogicalPlan = {
    import TxLog.MergeClause
    val (target, _) = GraftRel.unapply(m.targetTable).get
    requireWritable(target)
    // WITH SCHEMA EVOLUTION: by the time this rule sees the plan,
    // Spark's ResolveMergeIntoSchemaEvolution has already widened the
    // table (GraftTable declares AUTOMATIC_SCHEMA_EVOLUTION, so the
    // analyzer ALTERed new source columns in through alterTable and
    // re-resolved the target). Passing evolveSchema through to
    // mergeWhen keeps the verb correct even when extra source columns
    // survive to execution (e.g. a Scala caller building the plan).
    val srcIds = m.sourceTable.outputSet.map(_.exprId).toSet
    val tgtIds = m.targetTable.outputSet.map(_.exprId).toSet
    // ON: conjunction of target.k = source.k equalities (same name
    // both sides) — the upsert key shape mergeWhen serves. Anything
    // else is not expressible as a keyed merge; refuse loudly with the
    // escape hatch.
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    val keys = conjuncts(m.mergeCondition).map { c =>
      (c match {
        case EqualTo(a: AttributeReference, b: AttributeReference) => Some((a, b))
        case _ => None
      }) match {
        case Some((a, b)) if tgtIds(a.exprId) && srcIds(b.exprId) &&
          a.name.equalsIgnoreCase(b.name) => a.name
        case Some((a, b)) if srcIds(a.exprId) && tgtIds(b.exprId) &&
          a.name.equalsIgnoreCase(b.name) => b.name
        case _ => throw new UnsupportedOperationException(
          s"graft MERGE: ON must be a conjunction of target.k = source.k " +
            s"equalities on same-named columns, got '${c.sql}' — use the " +
            "TXLOG MERGE verb for free-form join conditions")
      }
    }
    def cond(c: Option[Expression]): Option[String] = c.map(render(_, srcIds))
    def updateSets(assigns: Seq[Assignment]): Seq[(String, String)] =
      assigns.map(a => assignKey(a.key) -> render(a.value, srcIds))
    // INSERT must be star-shaped (mergeWhen's INSERT * contract): every
    // assignment carries a same-named source column through unchanged
    def requireInsertStar(assigns: Seq[Assignment]): Unit =
      assigns.foreach { a =>
        val ok = stripCast(a.value) match {
          case v: AttributeReference =>
            srcIds(v.exprId) && v.name.equalsIgnoreCase(assignKey(a.key))
          case _ => false
        }
        if (!ok) throw new UnsupportedOperationException(
          s"graft MERGE: WHEN NOT MATCHED supports INSERT * only " +
            s"(got ${assignKey(a.key)} = ${a.value.sql}) — use the TXLOG " +
            "MERGE verb for computed inserts")
      }
    val matched = m.matchedActions.map {
      case ua: UpdateAction => MergeClause(cond(ua.condition), "update",
        updateSets(ua.assignments))
      case da: DeleteAction => MergeClause(cond(da.condition), "delete")
      case other => throw new UnsupportedOperationException(
        s"graft MERGE: unsupported WHEN MATCHED action $other")
    }
    val notMatched = m.notMatchedActions.map {
      case ia: InsertAction =>
        requireInsertStar(ia.assignments)
        MergeClause(cond(ia.condition), "insert")
      case other => throw new UnsupportedOperationException(
        s"graft MERGE: unsupported WHEN NOT MATCHED action $other")
    }
    val nms = m.notMatchedBySourceActions.map {
      case da: DeleteAction => MergeClause(cond(da.condition), "delete")
      case other => throw new UnsupportedOperationException(
        s"graft MERGE: WHEN NOT MATCHED BY SOURCE supports DELETE only, " +
          s"got $other")
    }
    // the source subtree may itself read graft tables — lower those too
    GraftMergeCommand(target.path, apply(m.sourceTable), keys,
      matched, notMatched, nms, evolveSchema = m.withSchemaEvolution)
  }
}

/** ALTER TABLE ... ADD CONSTRAINT name CHECK (...) →
  * [[TxLog.addConstraint]]: snapshot-validated, atomically committed,
  * OCC-revalidated on rebase. */
case class GraftAddConstraintCommand(path: String, name: String,
                                     checkSql: String)
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.addConstraint(spark, path, name, checkSql)))
}

/** DELETE FROM graft.t WHERE ... → [[TxLog.deleteWhere]]: file-granular
  * discovery, one atomic commit. */
case class GraftDeleteCommand(path: String, condSql: String)
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.deleteWhere(spark, path, expr(condSql))))
}

/** UPDATE graft.t SET ... WHERE ... → [[TxLog.updateWhere]]. */
case class GraftUpdateCommand(path: String, sets: Seq[(String, String)],
                              condSql: Option[String])
  extends LeafRunnableCommand {
  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.updateWhere(spark, path, sets,
      condSql.map(expr).getOrElse(
        org.apache.spark.sql.functions.lit(true)))))
}

/** MERGE INTO graft.t ... → [[TxLog.mergeWhen]] (the full conditional
  * grammar, file-granular OCC read set). The source plan is carried
  * whole and materialized at run time. */
case class GraftMergeCommand(path: String, source: LogicalPlan,
                             keys: Seq[String],
                             matched: Seq[TxLog.MergeClause],
                             notMatched: Seq[TxLog.MergeClause],
                             notMatchedBySource: Seq[TxLog.MergeClause],
                             evolveSchema: Boolean = false)
  extends LeafRunnableCommand {
  override def innerChildren: Seq[LogicalPlan] = Seq(source)
  override def output: Seq[Attribute] =
    Seq(AttributeReference("version", LongType)())
  override def run(spark: SparkSession): Seq[Row] =
    Seq(Row(TxLog.mergeWhen(path, ExprBridge.ofRows(spark, source), keys,
      matched, notMatched, notMatchedBySource,
      evolveSchema = evolveSchema)))
}
