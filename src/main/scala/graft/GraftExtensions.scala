package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.Expression

import graft.functions.{BloomBuild, BloomMightContain, GraftFunctions, HeavyHitters, KmvSketch, LatestRow, LongDotProduct, Md5Prefix64, RewriteMaxByToLatestRow, TopKBy, WordNgrams}

/** SparkSessionExtensions hook: add `spark.sql.extensions=graft.GraftExtensions`
  * to a session builder (or spark-submit conf) and graft's functions +
  * optimizer rule are injected at session build — the standard deployment
  * path (end-to-end checked by [[ExtensionsCheck]] in a fresh JVM). Runtime
  * registration via [[graft.functions.GraftFunctions.register]] covers
  * sessions the engine did not build (the driver's Verify/Bench harnesses).
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.LongDotName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[LongDotProduct].getCanonicalName, GraftFunctions.LongDotName),
      (children: Seq[Expression]) => LongDotProduct(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.LatestRowName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[LatestRow].getCanonicalName, GraftFunctions.LatestRowName),
      (children: Seq[Expression]) => LatestRow(children(0), children(1))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.KmvSketchName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[KmvSketch].getCanonicalName, GraftFunctions.KmvSketchName),
      GraftFunctions.kmvSketchBuilder _))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.WordNgramsName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[WordNgrams].getCanonicalName, GraftFunctions.WordNgramsName),
      GraftFunctions.wordNgramsBuilder _))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.Md5Prefix64Name),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[Md5Prefix64].getCanonicalName, GraftFunctions.Md5Prefix64Name),
      (children: Seq[Expression]) => Md5Prefix64(children(0))))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.TopKByName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[TopKBy].getCanonicalName, GraftFunctions.TopKByName),
      GraftFunctions.topKByBuilder _))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.BloomBuildName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[BloomBuild].getCanonicalName, GraftFunctions.BloomBuildName),
      GraftFunctions.bloomBuildBuilder _))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.BloomMightContainName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[BloomMightContain].getCanonicalName, GraftFunctions.BloomMightContainName),
      GraftFunctions.bloomMightContainBuilder _))
    ext.injectFunction((
      FunctionIdentifier(GraftFunctions.HeavyHittersName),
      new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
        classOf[HeavyHitters].getCanonicalName, GraftFunctions.HeavyHittersName),
      GraftFunctions.heavyHittersBuilder _))
    // plan-quality rule: naive max_by latest-per-key formulations get the
    // ObjectHashAggregate kernel instead of degrading to SortAggregate
    ext.injectOptimizerRule(_ => RewriteMaxByToLatestRow)
    // transform-aware day pruning for hidden-time-partitioned catalog
    // tables: must be injected (pre-pushdown batch) to become real
    // PartitionFilters; see DeriveHiddenDayFilters
    ext.injectOptimizerRule(_ => graft.sources.DeriveHiddenDayFilters)
    // no merge-on-read rule here: reads of snapshots with pending
    // sidecars splice through graft.sources.SpliceMorReads, which the
    // catalog registers for every session that resolves a graft table,
    // so extended and un-extended sessions plan them alike
    // whole-operator surface (§2.10(c)): the as-of join's logical node
    // plans through its dedicated streaming-merge exec
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    // SQL views over GraftCatalog's ViewCatalog face (round 20): stock
    // Spark 4.1 has the SPI but no analyzer/exec wiring for it, so the
    // DDL rewrites at parse time and SELECTs substitute via a
    // resolution rule — the Iceberg extension pattern (GraftViewSql)
    ext.injectParser((session, delegate) =>
      new graft.sources.GraftViewParser(session, delegate))
    ext.injectResolutionRule(session =>
      graft.sources.ResolveGraftViews(session))
  }
}
