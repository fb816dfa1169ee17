package graft.sources

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Union}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Plan-level split for snapshots with PENDING equality deletes (round-15
  * verdict item 1): one tiny sidecar must not devectorize a whole-table
  * scan.
  *
  * The single-Scan shape cannot express the split — affected files need
  * per-row key probes (row-based readers) while unaffected files want the
  * stock vectorized parquet path, and Spark 4's
  * `DataSourceV2ScanExecBase.supportsColumnar` refuses one scan whose
  * partitions mix the two modes. So the split happens a level UP, in the
  * logical plan: this rule rewrites
  *
  *   DataSourceV2Relation(GraftTable with pending sidecars)
  *
  * into
  *
  *   Project(original attr ids,
  *     Union(DataSourceV2Relation(stock ParquetTable over UNAFFECTED files),
  *           DataSourceV2Relation(affected-only eq-delete table)))
  *
  * The unaffected side is a plain `ParquetTable`, so every stock
  * optimization applies untouched — vectorized (ColumnarToRow) reads,
  * filter/column pushdown, footer-credited aggregate pushdown (correct
  * here: deleted keys live only in affected files' censuses). The
  * affected side keeps [[EqDeleteScanBuilder]]'s row-based key-probe
  * readers, now scoped to exactly the files a sidecar census names — the
  * Iceberg read-tax shape: cost tracks affected bytes, not table bytes.
  *
  * Filters and projections reach both sides through the normal operator
  * optimizations (PushProjectionThroughUnion / predicate pushdown run in
  * the same fixed-point batch as this rule, before V2 scan pushdown).
  *
  * WRITE targets are exempt: a command's target relation must stay a
  * relation for the V2 write machinery, so relations referenced as
  * `table` by any command node are collected first and skipped. (Row-level
  * DML targets are additionally invisible here — they wrap the table in
  * Spark's RowLevelOperationTable, which this rule does not match.)
  *
  * Deployed via `graft.GraftExtensions` (injectOptimizerRule). Without
  * the extension the scan stays the round-15 uniformly-row-based shape —
  * correct, just unsplit.
  */
private[graft] object SplitEqDeleteScans extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // fast path: the rule runs in the fixpoint operator batch on EVERY
    // query — plans without a graft catalog relation (most of any mixed
    // workload) exit on one traversal
    val hasGraft = plan.exists {
      case r: DataSourceV2Relation => r.table.isInstanceOf[GraftTable]
      case _ => false
    }
    if (!hasGraft) return plan
    // identity set of command-target relations (INSERT/OVERWRITE/DELETE
    // faces): rewriting those would hand the write planner a Union
    val targets = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[LogicalPlan, java.lang.Boolean]())
    plan.foreach {
      case c: org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand =>
        targets.add(c.table)
      case d: org.apache.spark.sql.catalyst.plans.logical.DeleteFromTable =>
        targets.add(d.table)
      case _ => ()
    }
    plan.transformUp {
      // POSITIONAL tombstones pending (round 17): the whole relation
      // splices to [[GraftTable.posDeleteLogical]] — clean files
      // vectorized, tombstoned files through the per-task ordinal probe,
      // equality sidecars composed beneath
      case rel: DataSourceV2Relation if !targets.contains(rel) &&
          rel.table.isInstanceOf[GraftTable] &&
          rel.table.asInstanceOf[GraftTable].posDeletePending.nonEmpty =>
        SplitEqDeleteScans.spliceLogical(rel.output,
          rel.table.asInstanceOf[GraftTable].posDeleteLogical().get)
      case rel: DataSourceV2Relation if !targets.contains(rel) &&
          rel.table.isInstanceOf[GraftTable] =>
        rel.table.asInstanceOf[GraftTable].eqDeleteSplit() match {
          case Some((unaffected, affected, sidecars, keyCols, baseDir)) =>
            val spark = SparkSession.active
            val opts = new java.util.HashMap[String, String]()
            opts.put("mergeSchema", "true")
            val schema = rel.table.schema()
            val clean = ParquetTable(rel.table.name(), spark,
              new CaseInsensitiveStringMap(opts),
              unaffected.map(f => s"$baseDir/$f"), Some(schema),
              classOf[ParquetFileFormat])
            val dirty = new EqDeleteAffectedTable(rel.table.name(), baseDir,
              schema, keyCols, affected, sidecars)
            val union = Union(Seq(
              DataSourceV2Relation.create(clean, None, None, rel.options),
              DataSourceV2Relation.create(dirty, None, None, rel.options)))
            // restore the ORIGINAL attribute ids so parent references
            // survive the rewrite
            Project(rel.output.zip(union.output).map { case (o, n) =>
              Alias(n, o.name)(exprId = o.exprId)
            }, union)
          case None => rel
        }
    }
  }

  /** Splice a DataFrame's plan in place of a relation, preserving the
    * relation's attribute ids for parent references. The OPTIMIZED plan
    * is spliced (a nested, independent optimization — the subtree holds
    * only stock V1 parquet relations, so no rule of ours re-enters):
    * an analyzed plan still carries pre-optimizer nodes (ResolvedHint,
    * Deduplicate) that the parent query's remaining batches would never
    * replace when the splice happens mid- or post-optimization.
    */
  private[sources] def spliceLogical(
      relOutput: Seq[org.apache.spark.sql.catalyst.expressions.Attribute],
      df: org.apache.spark.sql.DataFrame): LogicalPlan = {
    val plan = df.queryExecution.optimizedPlan
    Project(relOutput.zip(plan.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId)
    }, plan)
  }
}

/** The POST-pushdown twin of [[SplitEqDeleteScans]] (round 17, the
  * round-12 I15 discipline): the split must be UNCONDITIONAL on session
  * wiring. A session that registered the catalog at runtime (no
  * `GraftExtensions`) has no pre-pushdown injection point, so this rule
  * rides `spark.experimental.extraOptimizations` (self-registered by
  * [[GraftCatalog.initialize]] — any session that can resolve a graft
  * table has it before its first query optimizes) and rewrites the
  * ALREADY-PUSHED-DOWN scan relation:
  *
  *   DataSourceV2ScanRelation(GraftTable, EqDeleteScan over the WHOLE census)
  *
  * into the same Union shape — a fresh stock `ParquetTable` scan over
  * the unaffected files (the recorded filters re-pushed into its footer
  * pruning, columns pruned identically) beside an affected-only
  * [[EqDeleteScanBuilder]] scan. The residual Filter Spark kept above
  * the relation (this builder pushes nothing) still re-applies every
  * predicate, so re-pushing here only restores ROW-GROUP SKIPPING and
  * vectorized decode, never changes semantics.
  *
  * When `GraftExtensions` IS loaded, [[SplitEqDeleteScans]] already
  * split the relation pre-pushdown (strictly better: the clean side
  * keeps aggregate pushdown too) and no whole-census [[EqDeleteScan]]
  * survives to here — `splitSpec` is None on affected-only scans, so
  * the two rules compose idempotently. Row-level DML target scans are
  * excluded by the GraftTable match (their relation wraps Spark's
  * RowLevelOperationTable).
  */
private[graft] object SplitEqDeleteScanRelations extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.AttributeReference
  import org.apache.spark.sql.connector.read.Scan
  import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2ScanRelation, FileScanBuilder}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // fast path: the rule runs in the (fixed-point) user batch on every
    // query — exit on one traversal unless a splittable scan exists
    val hasSplittable = plan.exists {
      case r: DataSourceV2ScanRelation => r.scan match {
        case s: EqDeleteScan => s.splitSpec.isDefined
        case _: PosDeletePendingScan => true
        case _: PosDeltaTargetScan => true
        case _ => false
      }
      case _ => false
    }
    if (!hasSplittable) return plan
    plan.transformUp {
      // POSITIONAL tombstones: the marker scan from an un-extended
      // session's pushdown — splice the logical read (the pre-pushdown
      // rule does the same when GraftExtensions is loaded)
      case r: DataSourceV2ScanRelation
          if r.scan.isInstanceOf[PosDeletePendingScan] =>
        SplitEqDeleteScans.spliceLogical(r.output,
          r.scan.asInstanceOf[PosDeletePendingScan].table
            .posDeleteLogical().get)
      // a row-level DELTA operation's target scan over a pos-bearing
      // snapshot (round 18): same splice, pinned-dir-explicit (the
      // target may be a branch head, and the relation wraps Spark's
      // RowLevelOperationTable — the GraftTable matches can't see it)
      case r: DataSourceV2ScanRelation
          if r.scan.isInstanceOf[PosDeltaTargetScan] =>
        SplitEqDeleteScans.spliceLogical(r.output,
          r.scan.asInstanceOf[PosDeltaTargetScan].logical())
      // matches on the SCAN type alone (round 18): an [[EqDeleteScan]]
      // only this engine builds — for plain reads the relation's table
      // is the GraftTable, for row-level DELTA targets it's Spark's
      // RowLevelOperationTable wrapper, and the split is equally valid
      // there (the WriteDelta query reads the Union through the
      // id-preserving Project, the same splice the positional marker
      // already proves). Pre-18 the delta target stayed whole-census
      // row-based — one point-delete sidecar devectorized every
      // subsequent UPDATE/MERGE of the table.
      case r: DataSourceV2ScanRelation
          if r.scan.isInstanceOf[EqDeleteScan] &&
            r.scan.asInstanceOf[EqDeleteScan].splitSpec.isDefined =>
        val spec = r.scan.asInstanceOf[EqDeleteScan].splitSpec.get
        val spark = SparkSession.active
        val opts = new java.util.HashMap[String, String]()
        opts.put("mergeSchema", "true")
        val cleanSb = ParquetTable(spec.tableName, spark,
          new CaseInsensitiveStringMap(opts),
          spec.unaffected.map(f => s"${spec.baseDir}/$f"),
          Some(spec.tableSchema), classOf[ParquetFileFormat])
          .newScanBuilder(spec.options).asInstanceOf[FileScanBuilder]
        cleanSb.pushFilters(spec.recorded)
        cleanSb.pruneColumns(spec.pruned)
        val dirtySb = new EqDeleteScanBuilder(spec.tableName, spec.baseDir,
          spec.tableSchema, spec.keyCols, spec.options, spec.sidecars,
          Some(spec.affected))
        dirtySb.pushFilters(spec.recorded)
        dirtySb.pruneColumns(spec.pruned)
        def attrsOf(s: Scan): Seq[AttributeReference] =
          s.readSchema().fields.toSeq.map(f =>
            AttributeReference(f.name, f.dataType, f.nullable)())
        val cleanScan = cleanSb.build()
        val dirtyScan = dirtySb.build()
        val cleanRel = r.copy(scan = cleanScan, output = attrsOf(cleanScan))
        val dirtyRel = r.copy(scan = dirtyScan, output = attrsOf(dirtyScan))
        val union = Union(Seq(cleanRel, dirtyRel))
        // restore the ORIGINAL attribute ids so parent references
        // survive the rewrite
        Project(r.output.zip(union.output).map { case (o, n) =>
          Alias(n, o.name)(exprId = o.exprId)
        }, union)
    }
  }
}

/** Marker scan for a snapshot with pending POSITIONAL deletes
  * ([[PosDeletes]]): pushdown produces it, and one of the split rules
  * (pre-pushdown via GraftExtensions, post-pushdown via the catalog's
  * extraOptimizations registration) splices the logical tombstone-probe
  * read in its place BEFORE execution. Reaching toBatch means a session
  * carries neither rule — refuse loudly rather than resurrect
  * tombstoned rows through a raw scan.
  */
private[sources] class PosDeletePendingScan(
    private[sources] val table: GraftTable)
  extends org.apache.spark.sql.connector.read.Scan {
  override def readSchema(): StructType = table.schema()
  override def description(): String =
    s"PosDeletePendingScan(${table.name()})"
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    throw new IllegalStateException(
      s"'${table.name()}' carries pending POSITIONAL delete sidecars " +
        "and this session has neither graft.GraftExtensions nor the " +
        "catalog-registered plan rewrite — a raw scan would resurrect " +
        "tombstoned rows. Register the catalog (or the extension), or " +
        "CALL <catalog>.system.compact to fold the sidecars")
}

/** The delta-DML twin of [[PosDeletePendingScan]] (round 18): the target
  * scan of a merge-on-read UPDATE / MERGE whose PINNED snapshot (main or
  * a WAP branch head) carries pending positional tombstones. The delta
  * write stacks over them — the operation must see the LOGICAL rows, or
  * tombstoned rows would re-match as live — so the post-pushdown rule
  * splices [[EqDeletes.logicalMorRead]] (equality sidecars composed
  * beneath) in place of this scan. Pinned-dir-explicit because the
  * row-level relation wraps Spark's RowLevelOperationTable and may
  * target a branch head, not the served main snapshot.
  */
private[sources] class PosDeltaTargetScan(tableName: String,
    snapshotDir: String, tableSchema: StructType, props: Map[String, String])
  extends org.apache.spark.sql.connector.read.Scan {
  def logical(): org.apache.spark.sql.DataFrame =
    EqDeletes.logicalMorRead(SparkSession.active, snapshotDir, props,
      schema = Some(tableSchema))
  override def readSchema(): StructType = tableSchema
  override def description(): String =
    s"PosDeltaTargetScan($tableName, $snapshotDir)"
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    throw new IllegalStateException(
      s"'$tableName' carries pending POSITIONAL delete sidecars and " +
        "this session lacks the catalog-registered plan rewrite — a " +
        "raw delta-target scan would treat tombstoned rows as live. " +
        "Register the catalog, or CALL <catalog>.system.compact first")
}

/** The affected-files-only face of a pending-sidecar snapshot: reads plan
  * through [[EqDeleteScanBuilder]] scoped to exactly the files some
  * sidecar census names. Exists only inside [[SplitEqDeleteScans]]'
  * rewritten plans — never registered in a catalog, never written to.
  */
private[sources] class EqDeleteAffectedTable(tableName: String,
    baseDir: String, tableSchema: StructType, keyCols: Seq[String],
    files: Seq[String], sidecars: Seq[EqDeletes.Sidecar])
  extends Table with SupportsRead {

  override def name(): String = s"$tableName (eq-delete pending)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new EqDeleteScanBuilder(tableName, baseDir, tableSchema, keyCols,
      options, sidecars, Some(files))
}
