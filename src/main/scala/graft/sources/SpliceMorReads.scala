package graft.sources

import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.read.{Batch, Scan, ScanBuilder, Statistics, SupportsPushDownRequiredColumns, SupportsReportStatistics}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType

/** The one catalog read of a snapshot with pending merge-on-read
  * sidecars, equality or positional: scan pushdown builds a
  * [[MorPendingScan]] marker, and this rule splices the marker's
  * [[EqDeletes.logicalMorRead]] plan in its place —
  *
  *   DataSourceV2ScanRelation(MorPendingScan)
  *
  * becomes
  *
  *   Project(original attr ids,
  *     Union(clean files: a stock vectorized parquet relation,
  *           affected files: one parquet relation under the tombstone
  *           filter and one eq_delete_probe per stored key signature))
  *
  * the same plan DML matching and the fold read. The marker's builder
  * records the pushed filters (all stay residual above the relation)
  * and the pruned columns; the spliced plan applies the translatable
  * filters again, so the nested optimization pushes them into both
  * parquet scans (footer pruning, vectorized decode), and selects the
  * pruned columns.
  *
  * Runs post-pushdown from `spark.experimental.extraOptimizations`,
  * registered by [[GraftCatalog.initialize]] — every session that can
  * resolve a graft table has it before its first query optimizes, with
  * or without `graft.GraftExtensions`. Row-level DELTA target scans
  * (UPDATE/MERGE) build the same marker under Spark's
  * RowLevelOperationTable wrapper; the rule matches on the scan alone.
  */
private[graft] object SpliceMorReads extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // fast path: the rule runs in the user batch on every query — exit
    // on one traversal unless a marker scan exists
    val hasMarker = plan.exists {
      case r: DataSourceV2ScanRelation => r.scan.isInstanceOf[MorPendingScan]
      case _ => false
    }
    if (!hasMarker) return plan
    plan.transformUp {
      case r: DataSourceV2ScanRelation if r.scan.isInstanceOf[MorPendingScan] =>
        spliceLogical(r.output, r.scan.asInstanceOf[MorPendingScan].df)
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
  private def spliceLogical(relOutput: Seq[Attribute], df: DataFrame): LogicalPlan = {
    val plan = df.queryExecution.optimizedPlan
    Project(relOutput.zip(plan.output).map { case (o, n) =>
      Alias(n, o.name)(exprId = o.exprId)
    }, plan)
  }
}

/** Builds the [[MorPendingScan]] of `snapshotDir`: records the pushed
  * Catalyst filters (pushing none — the residual Filter stays above the
  * relation) and the pruned columns, then makes the spliced DataFrame
  * once.
  */
private[sources] class MorPendingScanBuilder(tableName: String,
    snapshotDir: String, tableSchema: StructType, props: Map[String, String])
  extends ScanBuilder with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns {

  private var recorded: Seq[Expression] = Nil
  private var required: StructType = tableSchema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    recorded = filters
    filters
  }
  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    // pruned to the required names at full table types: a nested-pruned
    // struct would not match the full struct the parquet read returns
    val names = required.fieldNames.toSet
    val readSchema = StructType(tableSchema.fields.filter(f => names(f.name)))
    // only filters a parquet scan can take again: anything else (a
    // Python UDF, say) stays with the residual Filter alone
    val filtered = recorded.filter(GraftSqlBridge.translatableFilter)
      .map(_.transform { case a: AttributeReference => UnresolvedAttribute.quoted(a.name) })
      .reduceOption(And)
      .foldLeft(EqDeletes.logicalMorRead(SparkSession.active, snapshotDir, props,
        schema = Some(tableSchema)))((df, f) => df.filter(GraftSqlBridge.column(f)))
    new MorPendingScan(tableName, snapshotDir, readSchema,
      filtered.select(readSchema.fieldNames.toSeq.map(n =>
        GraftSqlBridge.column(UnresolvedAttribute.quoted(n))): _*))
  }
}

/** Marker scan of a snapshot with pending merge-on-read sidecars:
  * [[SpliceMorReads]] replaces it with `df` before execution. Its size
  * estimate is the spliced plan's, so the rules that run before the
  * splice (runtime filters, DPP) see file-scale sizes. Reaching toBatch
  * means the session carries no splice rule — refuse loudly rather than
  * resurrect deleted rows through a raw scan.
  */
private[sources] class MorPendingScan(tableName: String, snapshotDir: String,
    schema: StructType, private[sources] val df: DataFrame)
  extends Scan with SupportsReportStatistics {
  override def readSchema(): StructType = schema
  override def description(): String = s"MorPendingScan($tableName, $snapshotDir)"
  override def estimateStatistics(): Statistics = {
    val size = df.queryExecution.optimizedPlan.stats.sizeInBytes
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(size.min(Long.MaxValue).toLong)
      override def numRows(): java.util.OptionalLong = java.util.OptionalLong.empty()
    }
  }
  override def toBatch: Batch =
    throw new IllegalStateException(
      s"'$tableName' carries pending merge-on-read sidecars and this " +
        "session lacks the catalog-registered plan rewrite — a raw scan " +
        "would resurrect deleted rows. Register the catalog, or CALL " +
        "<catalog>.system.compact to fold the sidecars")
}
