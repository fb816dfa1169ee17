package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.CdcConfig

/** The relational + streaming-semantics query surface (SURVEY §7.2 `queries`,
  * operator IDs from SURVEY §2).
  *
  * Every query here has a matching DuckDB oracle in [[Queries.oracles]]; the
  * pair is registered in [[graft.SparkEntry]]. Determinism rules shared by
  * both sides (the driver hash-compares values):
  *  - fractional SUMs go through exact DECIMAL accumulation and are cast to
  *    DOUBLE once at the end — bit-identical regardless of partial-agg order;
  *  - every top-k / rank uses row_number with a unique-id tie-break;
  *  - the events table's ns timestamps are reduced to epoch-microsecond longs
  *    in BOTH engines (Spark reads TIMESTAMP(NANOS) via nanosAsLong; DuckDB
  *    truncates to µs on read), so no timestamp-unit mismatch can leak in;
  *  - every result has a total deterministic ORDER BY.
  *
  * Scale notes are per-query; the common ones: filters/projections sit
  * directly on the parquet scan (pushdown + pruning), small dimensions are
  * broadcast explicitly, aggregations are partial+final hash aggs (map-side
  * combine), and no query collects to the driver.
  */
object Queries {

  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // explicit footer schema (round 21): a bare read.parquet runs one
    // schema-inference JOB per call, and the suite constructs hundreds
    // of input reads — the driver-side shortcut serves the identical
    // schema from the (memoized) footer; heterogeneous/unreadable
    // layouts fall back to the inferring read unchanged
    val p = s"$dir/$name.parquet"
    graft.sources.SchemaEvolution.uniformFooterSchema(spark, p) match {
      case Some(s) => spark.read.schema(s).parquet(p)
      case None => spark.read.parquet(p)
    }
  }

  /** events.ts arrives at whatever precision the generator wrote — parquet
    * TIMESTAMP(NANOS) (Spark refuses by default; read as epoch-nano long via
    * `nanosAsLong`), TIMESTAMP(MICROS) without UTC adjustment (read as
    * TIMESTAMP_NTZ), or an adjusted TIMESTAMP. All three are normalized to
    * one epoch-microsecond long column `ts_us` replacing `ts` — the exact
    * value DuckDB's `epoch_us(ts)` yields on the same file (DuckDB truncates
    * nanos to µs on read; sessions run in UTC so NTZ wall-time == UTC).
    *
    * NOTE on `nanosAsLong`: the conf is session-wide and, once set, stays
    * set for the session's lifetime — a set/restore scope around planning
    * would break lazy execution because the conf is consulted again at
    * scan time. Spark exposes no per-read option for it (the parquet
    * schema converter reads SQLConf, not datasource options — checked
    * against the 4.x reader), so the honest scoping is CONDITIONAL: the
    * footer is probed first (no conf needed) and the mutation happens
    * ONLY when the table actually carries TIMESTAMP(NANOS), i.e. exactly
    * when Spark would otherwise refuse the read outright. A session that
    * never loads a NANOS table never sees the conf change
    * (spec-asserted); one that does gets the only setting under which
    * the table is readable at all.
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val unit = footerTsUnit(spark, dir)
    if (unit.contains("NANOS"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(spark, dir, "events")
    val tsUs = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType if longTsIsNanos(unit, raw) =>
        expr(floorDivSql("ts", 1000L))
      case org.apache.spark.sql.types.LongType => col("ts")
      case _ => unix_micros(col("ts").cast("timestamp"))
    }
    raw.withColumn("ts_us", tsUs).drop("ts")
  }

  /** Whether a LongType-surfaced `ts` holds epoch-NANOS. LongType alone is
    * ambiguous — TIMESTAMP(NANOS) under `nanosAsLong` AND a plain
    * unannotated INT64 both surface as LongType, and assuming nanos would
    * silently floor-divide a generator that ships raw epoch-micros (the
    * same corruption class the round-7 precision fix closed). The parquet
    * footers' logical-type annotations are authoritative when present
    * (ALL data files are checked and must agree — a table whose files
    * disagree mid-generator-flip fails loudly instead of dividing half
    * its timestamps); an unannotated column falls back to a magnitude
    * probe over max(|ts|) of the WHOLE column: |ts| >= 1e17 can only be
    * nanos (1e17 µs is year 5138; 1e17 ns is March 1973 — any modern
    * instant separates cleanly). The full-column max makes the probe
    * deterministic across file layouts — a limit(100) sample reads
    * whichever 100 rows the scan happens to order first, and a table
    * mixing magnitudes into that window would be misclassified (round-8
    * advice). One plan-time scan of a single BIGINT column, once per
    * load; an empty table defaults to the historical nanos reading.
    */
  private def longTsIsNanos(unit: Option[String], raw: DataFrame): Boolean =
    unit match {
      case Some(u) => u == "NANOS"
      case None =>
        val m = raw.agg(max(abs(col("ts")))).head()
        m.isNullAt(0) || m.getLong(0) >= 100000000000000000L
    }

  /** The parquet footers' logical-type unit for `events.ts` ("NANOS" /
    * "MICROS" / "MILLIS"), or None when the column is unannotated INT64,
    * absent, or no footer is readable. ALL data files' footers are read
    * (footer reads are O(KB) metadata, once per load): files that
    * DISAGREE on the annotation throw — classifying a heterogeneous
    * table by one file would silently mis-scale every row the other
    * files hold. A footer-read failure logs the degradation to the
    * magnitude heuristic instead of swallowing it (round-8 advice).
    */
  private def footerTsUnit(spark: SparkSession, dir: String): Option[String] = {
    def dataFiles(fs: org.apache.hadoop.fs.FileSystem,
        p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.Path] = {
      val st = fs.getFileStatus(p)
      if (st.isFile) {
        if (p.getName.startsWith("_") || p.getName.startsWith(".")) Nil
        else Seq(p)
      } else fs.listStatus(p).sortBy(_.getPath.getName).toSeq
        .filterNot(s => s.getPath.getName.startsWith("_") ||
          s.getPath.getName.startsWith("."))
        .flatMap(s => dataFiles(fs, s.getPath))
    }
    try {
      val conf = spark.sessionState.newHadoopConf()
      val root = new org.apache.hadoop.fs.Path(s"$dir/events.parquet")
      val fs = root.getFileSystem(conf)
      val units = dataFiles(fs, root).flatMap { f =>
        val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
        try {
          val schema = rd.getFooter.getFileMetaData.getSchema
          if (!schema.containsField("ts")) None
          else Option(schema.getType(Seq("ts"): _*).getLogicalTypeAnnotation).collect {
            case t: org.apache.parquet.schema.LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.getUnit.toString
          }
        } finally rd.close()
      }.distinct
      if (units.length > 1) throw new IllegalStateException(
        s"events.ts parquet files disagree on timestamp unit: ${units.sorted.mkString(", ")}" +
          s" under $dir/events.parquet — refusing to guess; rewrite the table with one precision")
      units.headOption
    } catch {
      case e: IllegalStateException => throw e
      case scala.util.control.NonFatal(e) =>
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"events.ts footer read failed under $dir/events.parquet — " +
            s"falling back to the magnitude heuristic: $e")
        None
    }
  }

  /** Exact decimal sum emitted as double: order-insensitive, engine-portable. */
  def dsum(c: Column): Column = sum(c.cast("decimal(18,2)")).cast("double")

  /** Floor-based integer division, as SQL text, for epoch bucketing:
    * matches DuckDB's `//` (floor) for ALL inputs — Spark's `div`
    * truncates toward zero, so a pre-epoch (negative) timestamp would
    * land one bucket too high and silently diverge from the oracles.
    */
  def floorDivSql(c: String, d: Long): String =
    s"(($c - pmod($c, ${d}L)) div ${d}L)"

  /** revenue = SUM(extendedprice * (1 - discount)) in exact decimal. */
  private def revenue: Column =
    sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
      .cast("double")

  // --------------------------------------------------------------------
  // Relational core
  // --------------------------------------------------------------------

  /** TPC-H Q1-style pricing summary: scan -> filter -> hash agg (SURVEY A3).
    * Filter + 7-column projection push into the parquet scan; the agg is
    * partial+final over 6 groups (map-side combine makes the shuffle tiny).
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    li.filter(col("l_shipdate") <= lit("1998-09-01").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity")).cast("double").as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        revenue.as("sum_disc_price"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
  }

  /** Selective scan -> projection -> global top-k (SURVEY §2.6). Planned as
    * TakeOrderedAndProject: each task keeps 100 rows, no full sort/shuffle.
    */
  def q02FilterTopk(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_quantity") >= 45 &&
        col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey"), col("l_linenumber"))
      .limit(100)

  /** TPC-H Q3-style: broadcast-filtered dim join + agg + top-k (SURVEY J1/A3).
    * `customer` is explicitly broadcast (small dim at any SF relative to
    * facts); orders⋈lineitem is a shuffle equi-join on l_orderkey that AQE
    * plans as SMJ/shuffle-hash at scale.
    */
  def q03JoinAgg(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer").filter(col("c_mktsegment") === "BUILDING")
    val ord = t(spark, dir, "orders")
      .filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") > lit("1997-01-01").cast("timestamp"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"))
      .agg(revenue.as("revenue"))
      .select(col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("revenue"))
      .orderBy(col("revenue").desc, col("o_orderkey"))
      .limit(10)
  }

  /** TPC-H Q5-style multiway star join: two broadcast dims + two shuffle
    * joins + agg (SURVEY J1/J3). region⋈nation collapses to a broadcast
    * before touching facts, so only the fact-fact join shuffles.
    */
  def q04JoinMultiway(spark: SparkSession, dir: String): DataFrame = {
    val region = t(spark, dir, "region").filter(col("r_name").isin("ASIA", "EUROPE"))
    val nation = t(spark, dir, "nation")
    val cust = t(spark, dir, "customer")
    val ord = t(spark, dir, "orders")
      .filter(year(col("o_orderdate")) === 1996)
    val li = t(spark, dir, "lineitem")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust.join(broadcast(nation.join(broadcast(region),
            col("n_regionkey") === col("r_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(revenue.as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("r_name"), col("n_name"))
  }

  /** Semi + anti join (SURVEY J2): customers with vs without orders, per
    * market segment. Both sides broadcast the distinct-key set at scale.
    */
  def q05SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val ord = t(spark, dir, "orders")
    val withO = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_with_orders"))
    val without = cust.join(ord, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_no_orders"))
    withO.join(without, Seq("c_mktsegment"), "full_outer")
      .na.fill(0L, Seq("n_with_orders", "n_no_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Ranked window top-N per key (SURVEY W1): top-3 orders by price per
    * customer, unique-key tie-break. One shuffle on o_custkey; the sort is
    * per-partition.
    */
  def q06WindowTopn(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    t(spark, dir, "orders")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
      .orderBy(col("o_custkey"), col("rn"))
  }

  /** Analytic window functions (SURVEY W2): lag + running sum with an
    * explicit rows-frame over each customer's order history.
    */
  def q07WindowAnalytic(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRun = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    t(spark, dir, "orders")
      .withColumn("prev_price", lag(col("o_totalprice"), 1).over(w))
      .withColumn("run_total",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(wRun).cast("double"))
      .select(col("o_custkey"), col("o_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("order_date"),
        col("o_totalprice"), col("prev_price"), col("run_total"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
  }

  /** ROLLUP hierarchy aggregation (SURVEY A3). Null group markers are
    * projected to 'ALL' so the oracle compare is label-stable.
    */
  def q08AggRollup(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .rollup(col("o_orderpriority"), col("o_orderstatus"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
      .select(
        coalesce(col("o_orderpriority"), lit("ALL")).as("o_orderpriority"),
        coalesce(col("o_orderstatus"), lit("ALL")).as("o_orderstatus"),
        col("n_orders"), col("total_price"))
      .orderBy(col("o_orderpriority"), col("o_orderstatus"))

  /** CUBE aggregation (SURVEY A3), same label-stabilization as q08. */
  def q09AggCube(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_items"), sum(col("l_quantity")).cast("double").as("sum_qty"))
      .select(
        coalesce(col("l_returnflag"), lit("ALL")).as("l_returnflag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("l_linestatus"),
        col("n_items"), col("sum_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Multi-column DISTINCT aggregation (SURVEY A3): planned via expand +
    * two-phase agg; distinct keys shuffle once.
    */
  def q10DistinctAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_partkey")).as("n_parts"),
        countDistinct(col("l_suppkey")).as("n_supps"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))

  /** Set operations (SURVEY §2.7): customers ordering in 1995 vs 1996 via
    * INTERSECT / EXCEPT, tagged and unioned.
    */
  def q11SetOps(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    def keys(yr: Int) = ord.filter(year(col("o_orderdate")) === yr)
      .select(col("o_custkey")).distinct()
    val a = keys(1995); val b = keys(1996)
    a.intersect(b).withColumn("tag", lit("both"))
      .unionByName(a.except(b).withColumn("tag", lit("only_1995")))
      .unionByName(b.except(a).withColumn("tag", lit("only_1996")))
      .select(col("tag"), col("o_custkey"))
      .orderBy(col("tag"), col("o_custkey"))
  }

  /** Multiset set operations (SURVEY §2.7): EXCEPT ALL / INTERSECT ALL keep
    * duplicate cardinality — counts per key, not key existence.
    */
  def q45SetOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val ord = t(spark, dir, "orders")
    def keys(yr: Int) = ord.filter(year(col("o_orderdate")) === yr)
      .select(col("o_custkey"))
    val a = keys(1995); val b = keys(1996)
    a.exceptAll(b).groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("except_all"))
      .unionByName(
        a.intersectAll(b).groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
          .withColumn("tag", lit("intersect_all")))
      .select("tag", "o_custkey", "n")
      .orderBy(col("tag"), col("o_custkey"))
  }

  /** Array aggregation (SURVEY F4): per-nation sorted key arrays —
    * deterministic because the collected list is sorted before emission.
    * The list is emitted joined as a string: the array shape exercises
    * collect_list/sort_array, while the flat string keeps the result
    * hashable by any downstream comparator (raw arrays are not).
    */
  def q46ArrayAgg(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .filter(col("c_acctbal") > 9000)
      .groupBy(col("c_nationkey"))
      .agg(concat_ws(",", sort_array(collect_list(col("c_custkey"))))
          .as("custkeys"),
        count(lit(1)).as("n"))
      .orderBy(col("c_nationkey"))

  /** Unpivot / melt (SURVEY A3): wide metric columns to (metric, value)
    * rows, re-aggregated per metric.
    */
  def q47Unpivot(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .select(col("l_returnflag"), col("l_quantity"), col("l_discount"), col("l_tax"))
      .unpivot(Array(col("l_returnflag")),
        Array(col("l_quantity"), col("l_discount"), col("l_tax")),
        "metric", "value")
      .groupBy(col("l_returnflag"), col("metric"))
      .agg(dsum(col("value")).as("sum_value"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"), col("metric"))

  /** Columns the q93 profiler covers. */
  private val ProfileCols =
    Seq("l_quantity", "l_extendedprice", "l_discount", "l_tax")

  /** Single-pass data profiling (q93): per-column non-null count, min,
    * max, and exact-decimal sum for every profiled column of `lineitem` —
    * the schema-driven audit a pipeline runs on arrival. The aggregation
    * list is GENERATED from the column list (one wide agg, ONE scan of
    * the table for all columns), then pivoted to one row per column —
    * profiling N columns must not cost N scans at 100 TB.
    */
  def q93Profile(spark: SparkSession, dir: String): DataFrame = {
    val aggs = ProfileCols.flatMap { c =>
      Seq(count(col(c)).as(s"${c}__n"),
        min(col(c)).cast("double").as(s"${c}__min"),
        max(col(c)).cast("double").as(s"${c}__max"),
        dsum(col(c)).as(s"${c}__sum"))
    }
    val stackArgs = ProfileCols
      .map(c => s"'$c', `${c}__n`, `${c}__min`, `${c}__max`, `${c}__sum`")
      .mkString(", ")
    t(spark, dir, "lineitem")
      .agg(aggs.head, aggs.tail: _*)
      .select(expr(s"stack(${ProfileCols.length}, $stackArgs) " +
        "AS (column_name, n_nonnull, min_v, max_v, sum_v)"))
      .orderBy(col("column_name"))
  }

  /** Referential-integrity audit (q94): documents without embeddings,
    * embeddings without documents, and matched counts — the orphan check a
    * multi-artifact corpus (text + vectors produced by separate jobs) runs
    * before training. Two anti-join counts + one semi-join count, each a
    * shuffle equi-join on the id (partition-prunable when both tables are
    * bucketed by id); the audit emits three numbers, never row data.
    */
  /** Dormant high-balance customers (q159) — the TPC-H Q22 shape: a
    * scalar-subquery threshold (average positive balance), an anti join
    * (customers with no RECENT orders — nothing since 1999; the fixture
    * has no fully orderless customers, so dormancy is the non-degenerate
    * variant), and a per-nation rollup of who's leaving money on the
    * table. Composes three shapes the surface already proves separately
    * (q12 scalar, q05/q94 anti, q03 rollup) into the classic
    * decision-support query.
    *
    * Determinism: the threshold and the balance totals are DECIMAL(18,2)
    * sums (exact, partial-order-independent — the q90 recipe for the
    * double-typed fixture column), cast to double once at the end.
    * Plan: the 1-row threshold broadcasts, the anti join keys on
    * customer id, the rollup is a |nations|-key hash agg.
    */
  def q159DormantCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cust = t(spark, dir, "customer")
    val recent = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1999-01-01").cast("timestamp"))
      .select(col("o_custkey"))
    val thr = cust.filter(col("c_acctbal") > 0.0)
      .agg((sum(col("c_acctbal").cast("decimal(18,2)")).cast("double") /
        count(lit(1))).as("thr"))
    cust.crossJoin(broadcast(thr))
      .filter(col("c_acctbal") > col("thr"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy(col("c_nationkey").cast("long").as("nation"))
      .agg(count(lit(1)).as("n_custs"),
        sum(col("c_acctbal").cast("decimal(18,2)")).cast("double").as("total_bal"))
      .orderBy(col("nation"))
  }

  /** Large-volume orders (q160) — the TPC-H Q18 shape: a HAVING
    * aggregate over the fact table (orders whose line quantities sum
    * past 300), then the enrichment joins. The Q18 lesson is operator
    * ORDER: the corpus-sized lineitem scan reduces to the rare big
    * orders BEFORE any join touches it, so both joins carry the
    * filtered aggregate (broadcastable) instead of raw line items —
    * aggregate-then-join, the dual of q64's join-then-rank. Quantities
    * are integer-valued doubles, so the per-order sums are exact in
    * any partial order; the final top-100 plans as
    * TakeOrderedAndProject.
    */
  def q160LargeOrders(spark: SparkSession, dir: String): DataFrame = {
    val big = t(spark, dir, "lineitem")
      .groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 300.0)
    val o = t(spark, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate")
    val c = t(spark, dir, "customer").select("c_custkey", "c_name")
    big.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate").cast("date").as("o_date"), col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey"))
      .limit(100)
  }

  /** Blamed sole supplier (q165) — the TPC-H Q21 shape: correlated
    * EXISTS + NOT-EXISTS over the fact table ("returned lines on
    * multi-supplier F-orders where NO other supplier's line was
    * returned"; the fixture has no commit/receipt dates, so lateness is
    * re-expressed as `l_returnflag = 'R'` — the join topology is Q21's).
    * Spark-first move: DECORRELATE — the two correlated subqueries
    * become one per-order aggregate (distinct-supplier count, distinct
    * returned-supplier count) joined back, so the fact table is scanned
    * twice total instead of once per outer row; the DuckDB oracle runs
    * the textbook correlated form, cross-checking the decorrelation.
    * Both joins key on l_orderkey (co-partitioned shuffle), the final
    * census is a |suppliers|-key hash agg, top-20 plans as
    * TakeOrderedAndProject.
    */
  def q165BlamedSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select(col("l_orderkey"), col("l_suppkey"), col("l_returnflag"))
    val fOrders = t(spark, dir, "orders")
      .filter(col("o_orderstatus") === "F").select(col("o_orderkey"))
    val perOrder = li
      .join(fOrders, col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_orderkey").as("g_orderkey"))
      .agg(countDistinct(col("l_suppkey")).as("n_supp"),
        countDistinct(when(col("l_returnflag") === "R", col("l_suppkey")))
          .as("n_ret_supp"))
      .filter(col("n_supp") > 1 && col("n_ret_supp") === 1)
    val blamedLines = li.filter(col("l_returnflag") === "R")
      .join(perOrder, col("l_orderkey") === col("g_orderkey"))
    blamedLines
      .join(t(spark, dir, "supplier").select("s_suppkey", "s_name"),
        col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("s_name"))
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(20)
  }

  /** Cheapest-supplier-per-part (q178) — the TPC-H Q2 shape on the
    * available tables (the fixture has no partsupp; unit cost =
    * extendedprice/quantity per lineitem stands in for ps_supplycost):
    * Q2's correlated scalar subquery ("the supplier whose cost equals
    * the part's minimum within the region") DECORRELATED Spark-first
    * into one per-(part,supplier) aggregate, a per-part min aggregate,
    * and an equality join back — each shuffle keyed on the part, no
    * correlated re-execution, all dimension hops broadcast. Double
    * equality on the min is safe: both sides are the same IEEE value
    * computed from the same rows. Ties keep ALL achieving suppliers
    * (both engines), and the full ORDER BY makes the LIMIT
    * deterministic.
    */
  def q178MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val eu = t(spark, dir, "region").filter(col("r_name") === "EUROPE")
      .select(col("r_regionkey"))
    val nEu = t(spark, dir, "nation")
      .join(broadcast(eu), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val sEu = t(spark, dir, "supplier")
      .join(broadcast(nEu), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"), col("n_name"))
    val cost = t(spark, dir, "lineitem")
      .join(broadcast(sEu.select(col("s_suppkey"))),
        col("l_suppkey") === col("s_suppkey"), "left_semi")
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("l_extendedprice") / col("l_quantity")).as("supp_cost"))
    val minPerPart = cost.groupBy(col("l_partkey").as("m_partkey"))
      .agg(min(col("supp_cost")).as("min_cost"))
    cost
      .join(minPerPart, col("l_partkey") === col("m_partkey") &&
        col("supp_cost") === col("min_cost"))
      .join(broadcast(sEu), col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "part").select(col("p_partkey"), col("p_name")),
        col("l_partkey") === col("p_partkey"))
      .select(col("s_acctbal"), col("s_name"), col("n_name"),
        col("p_partkey"), col("p_name"), col("min_cost"))
      .orderBy(col("s_acctbal").desc, col("n_name"), col("s_name"),
        col("p_partkey"))
      .limit(100)
  }

  /** Forecast-revenue-change (q179) — the TPC-H Q6 shape: the pure
    * pushdown showcase. One scan, THREE predicates all pushed to the
    * parquet reader (PushedFilters carries shipdate bounds, discount
    * bounds, quantity — asserted in Round11OpsSpec), a two-column read
    * schema, and one partial+final agg: no join, no wide shuffle, the
    * whole query is a codegen'd scan. Revenue sum in exact decimal.
    */
  def q179RevenueChange(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1996-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-01-01").cast("timestamp") &&
        col("l_discount") >= 0.05 && col("l_discount") <= 0.07 &&
        col("l_quantity") < 24)
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          col("l_discount").cast("decimal(18,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))

  /** Product-line profit by nation and year (q180) — the TPC-H Q9
    * shape: a part-name LIKE filter reduced to a broadcast semi-join
    * BEFORE the fact scan fans out, supplier->nation broadcast, one
    * orders join to carry the year in, then a small (nation x year)
    * hash agg. Profit in exact decimal (no ps_supplycost in the
    * fixture, so profit = revenue — the plan shape, 5-way join + year
    * extraction, is what Q9 exercises).
    */
  def q180ProductProfit(spark: SparkSession, dir: String): DataFrame = {
    val widget = t(spark, dir, "part")
      .filter(col("p_name").contains("widget")).select(col("p_partkey"))
    val suppNation = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    t(spark, dir, "lineitem")
      .join(broadcast(widget), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("n_name").as("nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(rev).cast("double").as("profit"))
      .orderBy(col("nation"), col("o_year").desc)
  }

  /** Returned-item revenue ranking (q181) — the TPC-H Q10 shape: a
    * quarter of orders joins the returned lineitems, revenue aggregates
    * per customer BEFORE the customer dimension joins in (agg-first
    * keeps the big join's left side at |customers-with-returns|), the
    * nation map broadcasts, and the final top-20 is a
    * TakeOrderedAndProject (asserted in Round11OpsSpec), not a global
    * sort. Revenue-desc ties break on the key for a deterministic
    * LIMIT.
    */
  def q181ReturnedRevenue(spark: SparkSession, dir: String): DataFrame = {
    val q = t(spark, dir, "orders")
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
        col("o_orderdate") < lit("1996-04-01").cast("timestamp"))
      .select(col("o_orderkey"), col("o_custkey"))
    val perCust = t(spark, dir, "lineitem")
      .filter(col("l_returnflag") === "R")
      .join(q, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(revenue.as("revenue"))
    perCust
      .join(t(spark, dir, "customer"), col("o_custkey") === col("c_custkey"))
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"),
        col("c_acctbal"), col("n_name"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(20)
  }

  /** Important-part value census (q182) — the TPC-H Q11 shape: a
    * per-part value aggregate kept only when it exceeds a FRACTION of
    * the global total — the scalar-subquery-in-HAVING pattern, realized
    * as one 1-row broadcast cross join over the already-aggregated
    * (small) per-part frame. Values accumulate in exact decimal; the
    * threshold comparison happens in double on both engines (same
    * decimal->double conversion, same IEEE multiply).
    */
  def q182ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val value = t(spark, dir, "lineitem")
      .groupBy(col("l_partkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)")).as("part_value"))
    val total = value.agg(sum(col("part_value")).as("total_value"))
    value.crossJoin(broadcast(total))
      .filter(col("part_value").cast("double") >
        col("total_value").cast("double") * 0.0002)
      .select(col("l_partkey"), col("part_value").cast("double").as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey"))
  }

  /** Supplier diversity census (q183) — the TPC-H Q16 shape: distinct
    * suppliers per part attribute combo, EXCLUDING a supplier set (the
    * NOT IN subquery becomes a broadcast anti-join before the count).
    * countDistinct rides the (brand,type,size) hash agg — the expand +
    * two-phase distinct-agg plan, no window.
    */
  def q183SupplierDiversity(spark: SparkSession, dir: String): DataFrame = {
    val excluded = t(spark, dir, "supplier")
      .filter(col("s_acctbal") < 1000).select(col("s_suppkey"))
    t(spark, dir, "lineitem")
      .join(broadcast(excluded), col("l_suppkey") === col("s_suppkey"), "left_anti")
      .join(t(spark, dir, "part")
        .select("p_partkey", "p_brand", "p_type", "p_size"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_brand"), col("p_type"), col("p_size"))
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc, col("p_brand"), col("p_type"),
        col("p_size"))
  }

  /** Front-loaded suppliers (q184) — the TPC-H Q20 shape: a semi-join
    * CHAIN (parts by name -> their 1997 shipment volumes -> suppliers
    * whose first-half volume exceeds half their year total -> supplier
    * attributes), every level reducing before the next joins. The
    * half-vs-total comparison is exact decimal (x2 on a decimal is
    * exact), so the boundary cannot drift between engines.
    */
  def q184FrontLoadedSuppliers(spark: SparkSession, dir: String): DataFrame = {
    val bolts = t(spark, dir, "part")
      .filter(col("p_name").contains("bolt")).select(col("p_partkey"))
    val qty = t(spark, dir, "lineitem")
      .join(broadcast(bolts), col("l_partkey") === col("p_partkey"), "left_semi")
      .filter(col("l_shipdate") >= lit("1997-01-01").cast("timestamp") &&
        col("l_shipdate") < lit("1998-01-01").cast("timestamp"))
      .groupBy(col("l_suppkey"), col("l_partkey"))
      .agg(sum(col("l_quantity").cast("decimal(18,2)")).as("total_qty"),
        sum(when(col("l_shipdate") < lit("1997-07-01").cast("timestamp"),
          col("l_quantity").cast("decimal(18,2)"))
          .otherwise(lit(0).cast("decimal(18,2)"))).as("h1_qty"))
      .filter(col("h1_qty") * 2 > col("total_qty"))
    t(spark, dir, "supplier")
      .join(qty.select(col("l_suppkey")).distinct(),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(t(spark, dir, "nation")),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("s_acctbal"), col("n_name"))
      .orderBy(col("s_name"))
  }

  /** Clustered-rewrite + zone-map lifecycle (q185): lineitem lands in a
    * scratch warehouse, [[graft.plans.Maintenance.cluster]] rewrites it
    * z-ordered on (l_partkey, l_suppkey) and builds the `_zonemap`
    * manifest inside the SAME atomic version commit, then the answer is
    * computed through [[graft.plans.ZoneMap.read]] — file-level pruning
    * from manifest min/max stats BEFORE any parquet footer is opened
    * (the Iceberg manifest-stats contract on plain parquet; the
    * reference's managed tables get it from Iceberg metadata). The
    * oracle is the plain filter+aggregate: layout and pruning must
    * never change results. Scratch warehouse deleted after an eager
    * checkpoint pins the rows.
    */
  def q185ClusterZonemap(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{Maintenance, ZoneMap}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_zm_q185")
    val wh = Warehouse(tmp.toString)
    try {
      wh.overwrite(t(spark, dir, "lineitem").select("l_orderkey", "l_partkey",
        "l_suppkey", "l_quantity", "l_extendedprice"), "li")
      Maintenance.cluster(spark, wh, "li", Seq("l_partkey", "l_suppkey"),
        targetFiles = 16)
      ZoneMap.read(spark, wh.snapshotPath("li"),
          Seq(ZoneMap.Bound.between("l_partkey", 40L, 90L),
            ZoneMap.Bound.between("l_suppkey", 2L, 5L)))
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(col("l_quantity").cast("decimal(18,2)")).cast("double").as("sum_qty"),
          sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("l_suppkey"))
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Single-dimension variant (q186): orders range-clustered on
    * o_orderdate (any orderable type — no bit interleave on one dim),
    * zone-map-pruned read of one year, priority census. The time-range
    * scan over a date-clustered table is THE canonical warehouse access
    * pattern this layout serves at 100 TB.
    */
  def q186DateClusterScan(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{Maintenance, ZoneMap}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_zm_q186")
    val wh = Warehouse(tmp.toString)
    try {
      wh.overwrite(t(spark, dir, "orders").select("o_orderkey", "o_orderdate",
        "o_orderpriority", "o_totalprice"), "ord")
      Maintenance.cluster(spark, wh, "ord", Seq("o_orderdate"), targetFiles = 12)
      ZoneMap.read(spark, wh.snapshotPath("ord"),
          Seq(ZoneMap.Bound(
            "o_orderdate",
            Some(java.sql.Timestamp.valueOf("1996-01-01 00:00:00")),
            Some(java.sql.Timestamp.valueOf("1996-12-31 23:59:59")))))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("sum_price"))
        .orderBy(col("o_orderpriority"))
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** Bloom point-lookup lifecycle (q187): orders clustered by DATE with a
    * per-file Bloom filter on o_orderkey in the `_zonemap` manifest —
    * min/max stats serve the clustered dim, the bloom serves point
    * lookups on the key the layout does NOT order (a date-clustered fact
    * still answers "fetch order 42" from ~1 file instead of every file's
    * footer). [[graft.plans.ZoneMap.lookupRead]] proves membership
    * pruning never changes results: the oracle is the plain IN-list.
    */
  def q187BloomLookup(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{Maintenance, ZoneMap}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_zm_q187")
    val wh = Warehouse(tmp.toString)
    try {
      wh.overwrite(t(spark, dir, "orders").select("o_orderkey", "o_orderdate",
        "o_orderpriority", "o_totalprice"), "ord")
      Maintenance.cluster(spark, wh, "ord", Seq("o_orderdate"),
        targetFiles = 16, bloomKeys = Seq("o_orderkey"))
      ZoneMap.lookupRead(spark, wh.snapshotPath("ord"), "o_orderkey",
          Seq(7L, 1313L, 4033L))
        .select(col("o_orderkey"), col("o_orderpriority"),
          col("o_totalprice").cast("decimal(18,2)").as("price"))
        .orderBy(col("o_orderkey"))
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Write/read-split lifecycle (q188): the q163 MOR mirror PLUS its
    * materialized read-optimized projection
    * ([[graft.plans.Maintenance.materializeProjection]]) — the mirror
    * keeps the key-bucket upsert layout, analytics come from a derived
    * flat table clustered on `value` with a user_id bloom, and the
    * answer is a zone-map range read over the projection. Same fold
    * oracle as q18/q163 plus the range filter: the whole derived chain
    * (MOR fold -> projection -> clustered layout -> manifest pruning)
    * must preserve row-level truth.
    */
  def q188MirrorProjection(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{Maintenance, MorMirror, ZoneMap}
    import graft.sources.Tables.Warehouse
    val cfg = CdcConfig(keyCol = "user_id", tsCol = "event_id")
    val ch = events(spark, dir)
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .select("user_id", "event_id", "event_type", "value", "op")
      .withColumn("_b", pmod(col("event_id"), lit(4)).cast("int"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_proj_q188")
    val wh = Warehouse(tmp.toString)
    try {
      MorMirror.initialize(wh, "mirror",
        Cdc.fold(ch.filter(col("_b") === 0).drop("_b"), cfg), cfg, nBuckets = 16)
      (1 to 3).foreach { b =>
        MorMirror.appendDelta(wh, "mirror",
          ch.filter(col("_b") === b).drop("_b"), batchId = b.toLong)
      }
      Maintenance.materializeProjection(spark, wh, "mirror", "mirror_ro",
        dims = Seq("value"), bloomKeys = Seq("user_id"), targetFiles = 8,
        cols = Seq("user_id", "event_id", "event_type", "value"))
      ZoneMap.read(spark, wh.snapshotPath("mirror_ro"),
          Seq(ZoneMap.Bound.between("value", 10.0, 60.0)))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_users"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
            .as("total_value"))
        .orderBy(col("event_type"))
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Hidden-time-partitioned changelog lifecycle (q189): events land in a
    * scratch warehouse as an append-batch table declared
    * `partition.time-column = ts` — three micro-batches lay out as
    * `p_day=<date>/p_batch=<id>` day partitions (the Iceberg `days(ts)`
    * transform on plain parquet, [[graft.sources.Tables.Warehouse.appendBatch]]) —
    * then a TIME-BOUNDED replay reads an 11-day window through
    * [[graft.sources.Tables.Warehouse.readTimePruned]]: the day predicate
    * prunes whole out-of-range day dirs as real PartitionFilters
    * (plan-asserted in TimePartitionSpec) and the residual ts bounds stay
    * exact. At 100 TB this is THE changelog access pattern the layout
    * exists for — late-data audits and feed bootstraps read days, not the
    * table. The oracle is the plain time-range aggregate on the source:
    * layout, batch splits, and pruning must never change results.
    */
  def q189TimePartitionedReplay(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_tp_q189")
    val wh = Warehouse(tmp.toString)
    try {
      // the events loader normalizes ts to epoch-micros (ts_us); the
      // partition transform needs the real timestamp back
      val ev = events(spark, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .select("event_id", "ts", "user_id", "event_type", "value")
      wh.declareTimePartition("ev_log", "ts")
      (0 to 2).foreach { b =>
        wh.appendBatch(ev.filter(pmod(col("event_id"), lit(3)) === b),
          "ev_log", batchId = b.toLong)
      }
      wh.readTimePruned(spark, "ev_log",
          fromTs = Some(java.sql.Timestamp.valueOf("2024-01-10 00:00:00")),
          toTs = Some(java.sql.Timestamp.valueOf("2024-01-20 23:59:59")))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          expr("CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)")
            .as("total_value"))
        .orderBy(col("event_type"))
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Hidden-partition pruning through PLAIN SQL under the oracle gate
    * (q193): the same day-partitioned changelog as q189, but the
    * time-bounded read is one `spark.sql` statement over the catalog
    * filtering ONLY on the time column — the user never names `p_day`.
    * Correctness rides the catalog read + the derived-day-filter rule
    * ([[graft.sources.DeriveHiddenDayFilters]], registered for this
    * session by GraftFunctions.register; the pruning PLAN is proven in
    * the fresh-JVM ExtensionsCheck where the rule precedes pushdown);
    * the oracle is the plain time-range aggregate.
    */
  def q193SqlHiddenDayFilter(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_tp_q193")
    val cat = s"gq193_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString)
    try {
      val ev = events(spark, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .select("event_id", "ts", "user_id", "event_type", "value")
      wh.declareTimePartition("ev_log", "ts")
      (0 to 2).foreach { b =>
        wh.appendBatch(ev.filter(pmod(col("event_id"), lit(3)) === b),
          "ev_log", batchId = b.toLong)
      }
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ev_log
           |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
           |  AND ts <= TIMESTAMP '2024-01-20 23:59:59'
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Streaming THROUGH the SQL catalog under the oracle gate (q195): the
    * events table lands in a scratch warehouse as a day-partitioned
    * changelog (two appendBatch micro-batches), then the WHOLE loop runs
    * by table name — `readStream.table` tails the changelog through the
    * V1 file-stream fallback and `writeStream.toTable` commits every
    * epoch as a snapshot of a second catalog table
    * ([[graft.sources.GraftStreamingWrite]], epoch-marker exactly-once)
    * — and the batch aggregate of the STREAMED table must hash-equal the
    * plain aggregate DuckDB computes on the source. This is the
    * reference's product shape end-to-end: continuous ingest into named
    * tables (README.md:6-10), on the engine's committed paths.
    */
  def q195CatalogStreaming(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_cs_q195")
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cs_q195_ckpt")
    val cat = s"gq195_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString)
    try {
      val ev = events(spark, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .select("event_id", "ts", "event_type", "value")
      wh.declareTimePartition("ev_log", "ts")
      (0 to 1).foreach { b =>
        wh.appendBatch(ev.filter(pmod(col("event_id"), lit(2)) === b),
          "ev_log", batchId = b.toLong)
      }
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.sql(s"CREATE TABLE $cat.ev_mirror " +
        "(event_id BIGINT, ts TIMESTAMP, event_type STRING, value DOUBLE)")
      def stream(widened: Boolean): Unit = {
        val in = spark.readStream.table(s"$cat.ev_log")
          .drop(graft.sources.Tables.PartDayCol, graft.sources.Tables.PartBatchCol)
        val out = if (widened)
          in.withColumn("src_parity", lit(1)) else in
        val q = out.writeStream
          .option("checkpointLocation", ckpt.toString)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .toTable(s"$cat.ev_mirror")
        q.awaitTermination()
      }
      stream(widened = false)
      // MID-STREAM schema evolution (round-14 verdict item 5): widen the
      // sink between epochs, land a correction feed (every click,
      // re-ingested), restart — pre-evolution rows read NULL for the new
      // column, the post-evolution epoch carries it, and the epoch
      // markers survive the ALTER's COW rewrite (replay stays exact)
      spark.sql(s"ALTER TABLE $cat.ev_mirror ADD COLUMN src_parity INT")
      wh.appendBatch(ev.filter(col("event_type") === "click"),
        "ev_log", batchId = 2L)
      stream(widened = true)
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           |  count(src_parity) AS n_evolved
           |FROM $cat.ev_mirror
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally { deleteDir(tmp); deleteDir(ckpt) }
  }

  /** Snapshot rollback under the oracle gate (q196): v1 = the clean
    * half of events, v2 = a corrupted overwrite (every value tripled),
    * then `CALL rollback_to_version(t, 1)` restores v1 as current by a
    * roll-forward commit and the PLAIN read's aggregate must equal the
    * oracle's clean-subset aggregate — while the bad snapshot stays
    * readable via `VERSION AS OF` (asserted by the row count carried in
    * the output).
    */
  def q196Rollback(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_rb_q196")
    val cat = s"gq196_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 4)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      val clean = ev.filter(pmod(col("event_id"), lit(2)) === 0)
      wh.overwrite(clean, "ev")
      wh.overwrite(ev.withColumn("value", col("value") * 3), "ev") // the bad write
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "4")
      spark.sql(s"CALL $cat.system.rollback_to_version('ev', 1)").collect()
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF 2) AS n_bad_retained
           |FROM $cat.ev
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** Hour-grain hidden partitioning under the oracle gate (q197): the
    * same lifecycle as q193 but at `hours(ts)` granularity — events land
    * as `p_day/p_hour=<hours-since-epoch>/p_batch` partitions
    * (Iceberg's hours transform) and one plain SQL statement with
    * SUB-DAY time bounds reads through the catalog, pruning on BOTH the
    * derived day and the derived hour index
    * ([[graft.sources.DayDerivingScanBuilder]]). The oracle is the plain
    * sub-day time-range aggregate: layout, nesting, and two-level
    * pruning must never change results.
    */
  def q197HourGrain(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_hg_q197")
    val cat = s"gq197_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString)
    try {
      // hour grain is for HIGH-RATE feeds: a week of events, not months
      // (hour-partitioning a 90-day span means thousands of tiny
      // partitions — the wrong grain for that density, and 10x the
      // bench cost for no extra coverage). The appended window strictly
      // covers the queried range, so results are unchanged.
      val ev = events(spark, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf("2024-01-08 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf("2024-01-15 00:00:00")))
        .select("event_id", "ts", "user_id", "event_type", "value")
      wh.declareTimePartition("ev_log", "ts", granularity = "hour")
      (0 to 1).foreach { b =>
        wh.appendBatch(ev.filter(pmod(col("event_id"), lit(2)) === b),
          "ev_log", batchId = b.toLong)
      }
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ev_log
           |WHERE ts >= TIMESTAMP '2024-01-10 06:30:00'
           |  AND ts <= TIMESTAMP '2024-01-12 17:45:00'
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Named snapshot tags under the oracle gate (q198): the clean half of
    * events commits as v1 and is TAGGED; the table then churns THREE
    * overwrites past the catalog's retention window (retain=2), so v1
    * survives ONLY because the tag pins it against GC — and
    * `VERSION AS OF 'clean'` must still equal the oracle's clean-subset
    * aggregate. The current state rides along in the same statement, so
    * the pin provably does not freeze the table itself.
    */
  def q198Tags(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_tag_q198")
    val cat = s"gq198_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString) // retain=2: the tag is the only pin
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.sql(s"CALL $cat.system.create_tag('ev', 'clean', 1)")
      (0 to 2).foreach { i => // churn past the retention window
        wh.overwrite(ev.filter(pmod(col("event_id"), lit(3)) === i), "ev")
      }
      spark.sql(
        s"""SELECT 'tagged' AS snap, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ev VERSION AS OF 'clean' GROUP BY event_type
           |UNION ALL
           |SELECT 'current', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |FROM $cat.ev GROUP BY event_type
           |ORDER BY snap, event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** The ADD COLUMN lifecycle under the oracle gate (q199): CTAS a
    * subset of events, `ALTER TABLE ADD COLUMN` (one COW rewrite
    * appending NULLs), backfill part of it with a file-granular UPDATE,
    * and aggregate — the oracle models the same column as a CASE
    * expression over the raw events, so the rewrite, the NULL semantics
    * of unbackfilled rows, and the UPDATE's COW grouping must all agree
    * to the hash. History is pinned too: the pre-ALTER snapshot's row
    * count rides in the output.
    */
  def q199AddColumn(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_ac_q199")
    val cat = s"gq199_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 4)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
        .filter(pmod(col("event_id"), lit(2)) === 0)
      wh.overwrite(ev, "ev")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "4")
      spark.sql(s"ALTER TABLE $cat.ev ADD COLUMN flag INT")
      spark.sql(s"UPDATE $cat.ev SET flag = 1 WHERE event_type = 'click'")
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  count(flag) AS n_flagged,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF 1) AS n_pre_alter
           |FROM $cat.ev
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** The FULL lifecycle on the OBJECT-STORE IO under the oracle gate
    * (q200, round-13 verdict item 1): every commit in this query — the
    * initial snapshot, the fast-append INSERT, the sort-order cluster
    * rewrite, MERGE INTO's copy-on-write, and the roll-forward rollback —
    * runs on [[graft.sources.ObjectStoreIO]]'s primitive set: exclusivity
    * is conditional PUT, the table pointer is a metadata OBJECT (no
    * symlink), carries are copies (no hard links), discards delete in
    * place (no rename). The oracle models the post-MERGE state (served
    * via `VERSION AS OF`) and the post-rollback current state over the
    * raw rows — the substrate swap must be hash-invisible.
    */
  def q200ObjectStoreLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_os_q200")
    val cat = s"gq200_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8,
      io = graft.sources.ObjectStoreIO)
    try {
      // a THIRD of the table exercises every lifecycle stage at a third
      // of the local emulation's copy tax (each carry is a full byte
      // copy standing in for S3 CopyObject, which moves zero client
      // bytes — the slice trims the stand-in's cost, not the proof)
      val ev = events(spark, dir).select("event_id", "event_type", "value")
        .filter(pmod(col("event_id"), lit(3)) === 0)
      // v1: the even half of the slice — a conditional-PUT-committed
      // first snapshot
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.conf.set(s"spark.sql.catalog.$cat.io", "objectstore")
      // fast append (the odd half): the carry is CopyObject, not links
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .createOrReplaceTempView(s"src_$cat")
      spark.sql(s"INSERT INTO $cat.ev SELECT * FROM src_$cat")
      // cluster: sort-order rewrite + manifest on the object-store tree
      graft.plans.Maintenance.cluster(spark, wh, "ev",
        Seq("event_id"), targetFiles = 4)
      val vPreMerge = wh.currentVersion("ev").get
      // MERGE: double every click's value (file-granular COW groups)
      ev.filter(col("event_type") === "click").select("event_id")
        .createOrReplaceTempView(s"clicks_$cat")
      spark.sql(
        s"""MERGE INTO $cat.ev t
           |USING clicks_$cat s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = t.value * 2""".stripMargin)
      val vMerge = wh.currentVersion("ev").get
      // rollback: the merge was "bad" — roll forward to the pre-merge
      // snapshot; the merged state stays readable as history
      spark.sql(s"CALL $cat.system.rollback_to_version('ev', $vPreMerge)")
        .collect()
      spark.sql(
        s"""SELECT 'merged' AS snap, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ev VERSION AS OF $vMerge GROUP BY event_type
           |UNION ALL
           |SELECT 'current', event_type, count(*),
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |FROM $cat.ev GROUP BY event_type
           |ORDER BY snap, event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** `ALTER COLUMN TYPE` promotion under the oracle gate (q201): CTAS
    * with an INT column, promote it to BIGINT via DDL (metadata-only —
    * a registry entry, zero rewrites, history files keep their narrow
    * bytes), INSERT values only a BIGINT can hold, and aggregate over
    * the mixed-width history — the oracle models the same arithmetic
    * over the raw rows, so the promotion, the native narrow-file
    * promotion in the scan, and the wide insert must all agree to the
    * hash. The pre-promotion snapshot's row count pins retained history.
    */
  def q201TypeWidening(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_tw_q201")
    val cat = s"gq201_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 4)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "4")
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .createOrReplaceTempView(s"even_$cat")
      ev.filter(pmod(col("event_id"), lit(2)) === 1)
        .createOrReplaceTempView(s"odd_$cat")
      spark.sql(
        s"""CREATE TABLE $cat.ev AS
           |SELECT event_id, event_type,
           |  CAST(FLOOR(value * 100) AS INT) AS cents
           |FROM even_$cat""".stripMargin)
      val vPre = wh.currentVersion("ev").get // the narrow CTAS snapshot
      spark.sql(s"ALTER TABLE $cat.ev ALTER COLUMN cents TYPE BIGINT")
      // values past INT range: only a genuinely wide write can hold them
      spark.sql(
        s"""INSERT INTO $cat.ev
           |SELECT event_id, event_type,
           |  CAST(FLOOR(value * 100) AS BIGINT) + 3000000000
           |FROM odd_$cat""".stripMargin)
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(cents) AS BIGINT) AS total_cents,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF $vPre) AS n_pre_widen
           |FROM $cat.ev
           |GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Merge-on-read SQL DELETE under the oracle gate (q202, round-14
    * verdict item 1): a MOR-mode table takes two stacked `DELETE FROM`s
    * as O(deleted-keys) equality-delete sidecars over hard-linked base
    * files — the query REQUIRES the first delete rewrote zero data
    * files (the census proof) — with the deleted keys re-INSERTed
    * between them (new files outside the first sidecar's census, so the
    * delete must not reapply: Iceberg's sequence-number rule on names,
    * the v2 eq-delete semantics the reference's mirror inherits via
    * tabular.py:69-70). The aggregate is taken TWICE: once with
    * sidecars pending (the per-signature reader-filter scan) and once
    * after `CALL compact` folds them back to a plain snapshot — both
    * phases must hash-equal the oracle's one model, and the pre-delete
    * snapshot's count pins retained history through the fold.
    */
  def q202MorDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{EqDeletes, Tables}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_mor_q202")
    val cat = s"gq202_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      Tables.TableProps.write(wh, "ev", Map(
        EqDeletes.ModeProp -> "merge-on-read",
        EqDeletes.KeyProp -> "event_id"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      val vPre = wh.currentVersion("ev").get
      val preFiles = graft.plans.ZoneMap
        .dataFileCensus(spark, wh.snapshotPath("ev")).toSet
      spark.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
      // the O(deleted-keys) census proof: one sidecar, ZERO data files
      // rewritten — every base file carried into the new version by name
      require(EqDeletes.pending(wh.snapshotPath("ev")).size == 1 &&
        graft.plans.ZoneMap.dataFileCensus(spark, wh.snapshotPath("ev"))
          .toSet == preFiles,
        "merge-on-read DELETE must carry base files, not rewrite them")
      // re-insert every deleted key: a new file OUTSIDE the census
      ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .filter(col("event_type") === "click")
        .select(col("event_id"), lit("restored").as("event_type"),
          col("value"))
        .createOrReplaceTempView(s"restored_$cat")
      spark.sql(s"INSERT INTO $cat.ev SELECT * FROM restored_$cat")
      spark.sql(s"DELETE FROM $cat.ev WHERE event_type = 'view'") // stacked
      require(EqDeletes.pending(wh.snapshotPath("ev")).size == 2,
        "the second delete must stack a second sidecar")
      def agg(phase: String) = spark.sql(
        s"""SELECT '$phase' AS phase, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF $vPre)
           |    AS n_pre_delete
           |FROM $cat.ev GROUP BY event_type""".stripMargin)
      val pending = agg("pending").localCheckpoint(true)
      spark.sql(s"CALL $cat.system.compact('ev', 4)").collect()
      require(EqDeletes.pending(wh.snapshotPath("ev")).isEmpty,
        "compact must fold every pending sidecar")
      pending.unionByName(agg("folded"))
        .orderBy("phase", "event_type")
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Merge-on-read UPDATE / MERGE INTO under the oracle gate (q204,
    * round 15): Spark's delta-based row-level writes on the
    * equality-delete substrate ([[graft.sources.MorDeltaOperation]]) —
    * an UPDATE and a three-arm MERGE each commit O(changed rows) (one
    * sidecar of matched keys + one fast-appended file of
    * reinserted/inserted rows; the query REQUIRES zero base-file
    * rewrites across both), the aggregate is taken with the sidecar
    * stack pending (per-signature reader-filter scan) and again after
    * `CALL compact` folds — both phases must hash-equal the oracle's
    * one closed-form model. Iceberg v2's MOR write path
    * (tabular.py:69-70's substrate) on plain parquet.
    */
  def q204MorUpdateMerge(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{EqDeletes, Tables}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_mu_q204")
    val cat = s"gq204_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      Tables.TableProps.write(wh, "ev", Map(
        EqDeletes.ModeProp -> "merge-on-read",
        EqDeletes.KeyProp -> "event_id"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      val vPre = wh.currentVersion("ev").get
      val preFiles = graft.plans.ZoneMap
        .dataFileCensus(spark, wh.snapshotPath("ev")).toSet
      // delta UPDATE: every click doubles — matched keys to a sidecar,
      // reinserted rows to one new file, base files carried by name
      spark.sql(s"UPDATE $cat.ev SET value = value * 2 " +
        "WHERE event_type = 'click'")
      // delta MERGE stacking over the pending sidecar: even views get
      // +10 (matched), odd errors insert (not matched)
      ev.filter((pmod(col("event_id"), lit(2)) === 0 &&
          col("event_type") === "view") ||
        (pmod(col("event_id"), lit(2)) === 1 &&
          col("event_type") === "error"))
        .createOrReplaceTempView(s"msrc_$cat")
      spark.sql(
        s"""MERGE INTO $cat.ev t USING msrc_$cat s
           |ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = t.value + 10
           |WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
           |  VALUES (s.event_id, s.event_type, s.value)""".stripMargin)
      val snap = wh.snapshotPath("ev")
      require(EqDeletes.pending(snap).size == 2 &&
        preFiles.subsetOf(graft.plans.ZoneMap
          .dataFileCensus(spark, snap).toSet),
        "delta writes must stack sidecars and never rewrite base files")
      def agg(phase: String) = spark.sql(
        s"""SELECT '$phase' AS phase, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF $vPre)
           |    AS n_pre_rewrite
           |FROM $cat.ev GROUP BY event_type""".stripMargin)
      val pending = agg("pending").localCheckpoint(true)
      spark.sql(s"CALL $cat.system.compact('ev', 4)").collect()
      require(EqDeletes.pending(wh.snapshotPath("ev")).isEmpty,
        "compact must fold the delta sidecars")
      pending.unionByName(agg("folded"))
        .orderBy("phase", "event_type")
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** COMPOSITE-key merge-on-read DML under the oracle gate (q207,
    * round-16 verdict item 1): `cdc.key-column = l_orderkey,l_linenumber`
    * — lineitem's natural compound PK, the common DMS junction/fact
    * shape that could not declare merge-on-read before round 17. The
    * lifecycle: a sidecar DELETE whose matched tuples share components
    * with thousands of live rows (any single-column shortcut in the key
    * plumbing over-deletes), a re-INSERT of half the deleted pairs (the
    * census rule on tuples), and a delta MERGE keyed on BOTH columns
    * stacking over the pending sidecars — aggregated with sidecars
    * pending and again after `CALL compact` folds, both phases
    * hash-equal to the oracle's one closed-form model. Iceberg's
    * identifier-fields rule (a LIST, not a column) on plain parquet;
    * the reference's key is configurable, not shaped
    * (tabular.py:44-45,62).
    */
  def q207MorCompositeKey(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{EqDeletes, Tables}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_ck_q207")
    val cat = s"gq207_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      // the synthetic lineitem is not PK-clean — derive a keyed seed by
      // deterministic per-tuple aggregation (the oracle mirrors it)
      def keyed(df: DataFrame): DataFrame = df
        .groupBy(col("l_orderkey"), col("l_linenumber"))
        .agg(min(col("l_quantity")).as("l_quantity"),
          min(col("l_returnflag")).as("l_returnflag"))
      val raw = t(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_returnflag"))
      val li = keyed(raw.filter(pmod(col("l_orderkey"), lit(8)) === 0))
        .localCheckpoint(true)
      wh.overwrite(li.repartition(4), "li")
      Tables.TableProps.write(wh, "li", Map(
        EqDeletes.ModeProp -> "merge-on-read",
        EqDeletes.KeyProp -> "l_orderkey,l_linenumber"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      val vPre = wh.currentVersion("li").get
      val preFiles = graft.plans.ZoneMap
        .dataFileCensus(spark, wh.snapshotPath("li")).toSet
      // sidecar DELETE on the compound key: matched (orderkey, linenumber)
      // tuples share their orderkeys with live lines of other numbers
      spark.sql(s"DELETE FROM $cat.li WHERE l_returnflag = 'R'")
      require(EqDeletes.pending(wh.snapshotPath("li")).size == 1 &&
        graft.plans.ZoneMap.dataFileCensus(spark, wh.snapshotPath("li"))
          .toSet == preFiles,
        "composite merge-on-read DELETE must carry base files, not rewrite")
      // the sidecar really holds TUPLES (both key columns)
      require(spark.read.parquet(
        EqDeletes.pending(wh.snapshotPath("li")).head.keysPath)
        .columns.toSeq == Seq("l_orderkey", "l_linenumber"),
        "the sidecar key frame must carry the full compound key")
      // re-insert HALF the deleted pairs (orderkey % 8 == 0) restamped:
      // their file lands outside the census, so the tuples stay visible
      li.filter(pmod(col("l_orderkey"), lit(16)) === 0 &&
          col("l_returnflag") === "R")
        .select(col("l_orderkey"), col("l_linenumber"),
          (col("l_quantity") + 1000).as("l_quantity"),
          lit("X").as("l_returnflag"))
        .createOrReplaceTempView(s"restored_$cat")
      spark.sql(s"INSERT INTO $cat.li SELECT * FROM restored_$cat")
      // delta MERGE keyed on BOTH columns, stacking over the pending
      // sidecar: matched 'N' lines get +100 quantity, the (keyed)
      // orderkey%40==2 slice — outside the table — inserts
      li.filter(col("l_returnflag") === "N")
        .unionByName(keyed(
          raw.filter(pmod(col("l_orderkey"), lit(40)) === 2)))
        .createOrReplaceTempView(s"cmsrc_$cat")
      spark.sql(
        s"""MERGE INTO $cat.li t USING cmsrc_$cat s
           |ON t.l_orderkey = s.l_orderkey
           |  AND t.l_linenumber = s.l_linenumber
           |WHEN MATCHED THEN UPDATE SET l_quantity = t.l_quantity + 100
           |WHEN NOT MATCHED THEN INSERT
           |  (l_orderkey, l_linenumber, l_quantity, l_returnflag)
           |  VALUES (s.l_orderkey, s.l_linenumber, s.l_quantity,
           |    s.l_returnflag)""".stripMargin)
      val snap = wh.snapshotPath("li")
      require(EqDeletes.pending(snap).size == 2 &&
        preFiles.subsetOf(graft.plans.ZoneMap
          .dataFileCensus(spark, snap).toSet),
        "the composite delta MERGE must stack a sidecar over carried files")
      def agg(phase: String) = spark.sql(
        s"""SELECT '$phase' AS phase, l_returnflag, count(*) AS n_rows,
           |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_qty,
           |  (SELECT count(*) FROM $cat.li VERSION AS OF $vPre)
           |    AS n_pre_delete
           |FROM $cat.li GROUP BY l_returnflag""".stripMargin)
      val pending = agg("pending").localCheckpoint(true)
      spark.sql(s"CALL $cat.system.compact('li', 4)").collect()
      require(EqDeletes.pending(wh.snapshotPath("li")).isEmpty,
        "compact must fold the composite sidecars")
      pending.unionByName(agg("folded"))
        .orderBy("phase", "l_returnflag")
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** POSITIONAL merge-on-read deletes under the oracle gate (q208,
    * round-16 verdict item 4): `(file, row ordinal)` tombstones — the
    * Iceberg v2 position-delete representation — carry the deletes an
    * EQUALITY sidecar cannot: here, predicate matches that include
    * NULL-key rows (every tenth event id is NULLed in the seed). Two
    * stacked positional DELETEs commit O(changed) sidecars over
    * hard-linked base files (the harness REQUIRES zero equality
    * sidecars, zero data-file rewrites), the aggregate is taken with
    * the tombstones pending (per-task ordinal probe through the plan
    * split) and again after `CALL compact` folds them — both phases
    * hash-equal the oracle's one closed-form model.
    */
  def q208PositionalDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{EqDeletes, PosDeletes, Tables}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_pd_q208")
    val cat = s"gq208_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val seed = events(spark, dir)
        .filter(pmod(col("event_id"), lit(2)) === 0)
        .select(
          when(pmod(col("event_id"), lit(10)) === 0, lit(null))
            .otherwise(col("event_id")).as("event_id"),
          col("event_type"), col("value"))
      wh.overwrite(seed.repartition(4), "ev")
      // the EXPERT path (TableProps.write): the DDL guard would refuse
      // declaring MOR over NULL keys — positional tombstones are
      // precisely the representation that serves such rows
      Tables.TableProps.write(wh, "ev", Map(
        EqDeletes.ModeProp -> "merge-on-read",
        EqDeletes.KeyProp -> "event_id"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      val vPre = wh.currentVersion("ev").get
      val preFiles = graft.plans.ZoneMap
        .dataFileCensus(spark, wh.snapshotPath("ev")).toSet
      spark.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
      require(PosDeletes.pending(wh.snapshotPath("ev")).size == 1 &&
        EqDeletes.pending(wh.snapshotPath("ev")).isEmpty,
        "a NULL-key match must commit a positional sidecar, never an " +
          "equality one")
      spark.sql(s"DELETE FROM $cat.ev WHERE event_type = 'view'") // stacked
      require(PosDeletes.pending(wh.snapshotPath("ev")).size == 2 &&
        graft.plans.ZoneMap.dataFileCensus(spark, wh.snapshotPath("ev"))
          .toSet == preFiles,
        "stacked positional deletes must carry base files, not rewrite")
      def agg(phase: String) = spark.sql(
        s"""SELECT '$phase' AS phase, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF $vPre)
           |    AS n_pre_delete
           |FROM $cat.ev GROUP BY event_type""".stripMargin)
      val pending = agg("pending").localCheckpoint(true)
      spark.sql(s"CALL $cat.system.compact('ev', 4)").collect()
      require(!EqDeletes.anyPending(wh.snapshotPath("ev")),
        "compact must fold the positional tombstones")
      pending.unionByName(agg("folded"))
        .orderBy("phase", "event_type")
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Delta UPDATE + MERGE stacking over pending POSITIONAL tombstones
    * under the oracle gate (q211, round 18 — the round-17 verdict's top
    * item): the reference's mirror is CONTINUOUSLY merged
    * (tabular.py:58-64), so "DML between folds" is the normal state —
    * one oversized/NULL-key DELETE must not freeze the write surface
    * until a compact. The lifecycle: a positional DELETE (NULL-key
    * matches force the ordinal route), then a delta UPDATE and a delta
    * MERGE whose target scans read the LOGICAL rows through the
    * tombstones ([[graft.sources.MorPendingScan]] spliced by the
    * catalog-registered rule); the harness REQUIRES the tombstones
    * carry, the equality sidecars stack beside them, and base files
    * never rewrite. The aggregate with everything pending hash-equals
    * the post-compact aggregate and the oracle's closed-form model.
    */
  def q211DeltaOverPositional(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{EqDeletes, PosDeletes, Tables}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_dp_q211")
    val cat = s"gq211_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      // NULL keys land ONLY on (a tenth of the) clicks: a MOR table's
      // schema marks the key REQUIRED, so a `key IS NULL` predicate
      // constant-folds — the delete below reaches the null rows through
      // the type predicate instead, and clearing ALL of them in phase 1
      // leaves the logical content null-free for the deltas
      val seed = events(spark, dir)
        .filter(pmod(col("event_id"), lit(2)) === 0)
        .select(
          when(pmod(col("event_id"), lit(10)) === 0 &&
              col("event_type") === "click", lit(null))
            .otherwise(col("event_id")).as("event_id"),
          col("event_type"), col("value"))
      wh.overwrite(seed.repartition(4), "ev")
      Tables.TableProps.write(wh, "ev", Map(
        EqDeletes.ModeProp -> "merge-on-read",
        EqDeletes.KeyProp -> "event_id"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      val preFiles = graft.plans.ZoneMap
        .dataFileCensus(spark, wh.snapshotPath("ev")).toSet
      // phase 1 — the oversized-shape DELETE: NULL-key matches force the
      // positional sidecar (and clear the live-null surface for deltas)
      spark.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
      require(PosDeletes.pending(wh.snapshotPath("ev")).size == 1 &&
        EqDeletes.pending(wh.snapshotPath("ev")).isEmpty,
        "the NULL-key match must route positionally")
      // phase 2 — delta UPDATE stacks OVER the pending tombstones
      spark.sql(s"UPDATE $cat.ev SET value = value + 50 " +
        "WHERE event_type = 'view'")
      // phase 3 — delta MERGE: matched purchases double, odd errors insert
      events(spark, dir).select("event_id", "event_type", "value")
        .filter((pmod(col("event_id"), lit(2)) === 0 &&
            col("event_type") === "purchase") ||
          (pmod(col("event_id"), lit(2)) === 1 &&
            col("event_type") === "error"))
        .withColumn("value",
          when(col("event_type") === "purchase", col("value") * 2)
            .otherwise(col("value")))
        .createOrReplaceTempView(s"dsrc_$cat")
      spark.sql(
        s"""MERGE INTO $cat.ev t USING dsrc_$cat s ON t.event_id = s.event_id
           |WHEN MATCHED THEN UPDATE SET value = s.value
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val snap = wh.snapshotPath("ev")
      require(PosDeletes.pending(snap).size == 1,
        "the positional sidecar must carry under both delta commits")
      require(EqDeletes.pending(snap).size == 2,
        "UPDATE and MERGE must each stack one equality sidecar")
      require(preFiles.subsetOf(graft.plans.ZoneMap
          .dataFileCensus(spark, snap).toSet),
        "deltas over tombstones must never rewrite base files")
      def agg(phase: String) = spark.sql(
        s"""SELECT '$phase' AS phase, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value
           |FROM $cat.ev GROUP BY event_type""".stripMargin)
      val pending = agg("pending").localCheckpoint(true)
      spark.sql(s"CALL $cat.system.compact('ev', 4)").collect()
      require(!EqDeletes.anyPending(wh.snapshotPath("ev")),
        "compact must fold both sidecar kinds")
      pending.unionByName(agg("folded"))
        .orderBy("phase", "event_type")
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Diverged-branch cherrypick under the oracle gate (q212, round 18):
    * `fast_forward` refuses once main moved past the fork — `CALL
    * cherrypick` is the remedy, replaying the branch's row-level audit
    * diff (insert / delete / before+after images) onto CURRENT main as
    * ONE staged CAS commit, refusing on key-level conflicts. The
    * harness stages an INSERT + UPDATE on the branch, diverges main
    * with a DELETE, proves fast_forward refuses, cherrypicks, and
    * REQUIRES the ref rebased (head = base = published version, diff
    * empty). The merged aggregate hash-equals the oracle's closed-form
    * union of both sides' changes.
    */
  def q212CherrypickDiverged(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.MirrorChangelog
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_cp_q212")
    val cat = s"gq212_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .repartition(4), "ev")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.sql(s"CALL $cat.system.create_branch('ev', 'fix')").collect()
      ev.filter(pmod(col("event_id"), lit(2)) === 1 &&
          col("event_type") === "error")
        .createOrReplaceTempView(s"cpsrc_$cat")
      spark.conf.set("spark.graft.wap.branch", "fix")
      try {
        spark.sql(s"INSERT INTO $cat.ev SELECT * FROM cpsrc_$cat")
        spark.sql(s"UPDATE $cat.ev SET value = value + 100 " +
          "WHERE event_type = 'view'")
      } finally spark.conf.unset("spark.graft.wap.branch")
      // main DIVERGES: the branch is no longer fast-forwardable
      spark.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
      val ffRefused =
        try { spark.sql(s"CALL $cat.system.fast_forward('ev', 'fix')")
          .collect(); false }
        catch { case _: Exception => true }
      require(ffRefused, "a diverged branch must refuse fast_forward")
      spark.sql(s"CALL $cat.system.cherrypick('ev', 'fix', 'event_id')")
        .collect()
      require(MirrorChangelog.branchDiff(spark, wh, "ev", "fix",
          "event_id").count() == 0L,
        "the cherry-picked branch must rebase to the merged state")
      val (head, base) = wh.branches("ev")("fix")
      require(head == wh.currentVersion("ev").get && base == head,
        "rebase must re-point head and base to the published version")
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value
           |FROM $cat.ev GROUP BY event_type
           |ORDER BY event_type""".stripMargin)
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** `t.history` under the oracle gate (q213, round 18): the snapshot
    * lineage metadata table — stored parents, rollback / fast_forward
    * provenance, is_current — over a deterministic lifecycle (three
    * commits, one rollback, one branch publish). The oracle is the
    * closed-form lineage itself (a VALUES model): the engine's
    * append-only roll-forward design makes every row derivable by hand.
    */
  def q213MetadataHistory(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_mh_q213")
    val cat = s"gq213_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      (1 to 3).foreach { k =>
        wh.overwrite(ev.filter(pmod(col("event_id"), lit(4)) < k), "ev")
      }
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.sql(s"CALL $cat.system.rollback_to_version('ev', 1)").collect()
      spark.sql(s"CALL $cat.system.create_branch('ev', 'fix')").collect()
      ev.filter(pmod(col("event_id"), lit(4)) === 3 &&
          col("event_type") === "error")
        .createOrReplaceTempView(s"mh_$cat")
      spark.conf.set("spark.graft.wap.branch", "fix")
      try spark.sql(s"INSERT INTO $cat.ev SELECT * FROM mh_$cat")
      finally spark.conf.unset("spark.graft.wap.branch")
      spark.sql(s"CALL $cat.system.fast_forward('ev', 'fix')").collect()
      spark.sql(
        s"""SELECT version, parent, operation, is_current,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF 4)
           |    AS n_at_rollback
           |FROM $cat.ev.history ORDER BY version""".stripMargin)
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** `t.partitions` under the oracle gate (q214, round 18): the
    * per-partition census metadata table of a hidden-day-partitioned
    * changelog — one row per day dir, record counts from parquet
    * footers only. The oracle is the same census computed relationally:
    * GROUP BY the UTC day of the seeded slice.
    */
  def q214MetadataPartitions(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_mp_q214")
    val cat = s"gq214_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      wh.declareTimePartition("ev", "ts")
      // the events loader normalizes ts to epoch-micros (ts_us); the
      // day layout wants the timestamp back
      val ev = events(spark, dir)
        .withColumn("ts", timestamp_micros(col("ts_us")))
        .select("event_id", "ts", "value")
        .filter(pmod(col("event_id"), lit(2)) === 0)
      // two batches: the census must aggregate per DAY across batch dirs
      wh.appendBatch(ev.filter(pmod(col("event_id"), lit(4)) === 0), "ev", 0L)
      wh.appendBatch(ev.filter(pmod(col("event_id"), lit(4)) === 2), "ev", 1L)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.sql(
        s"""SELECT partition, record_count
           |FROM $cat.ev.partitions ORDER BY partition""".stripMargin)
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** Branch audit changelog under the oracle gate (q209, round 17):
    * `CALL branch_diff` materializes the row-level changes a
    * `fast_forward` WOULD apply to main — the audit question
    * write-audit-publish exists to answer — into a queryable view with
    * Delta-CDF-style `_change_type` rows (insert / delete /
    * update_before / update_after, before+after images). The branch
    * stages one INSERT + one DELETE + one UPDATE; the view's per-type
    * aggregate must equal the oracle's closed-form model of exactly
    * that DML, while a scalar subquery proves main never moved.
    */
  def q209BranchAuditDiff(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_bd_q209")
    val cat = s"gq209_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.sql(s"CALL $cat.system.create_branch('ev', 'fix')").collect()
      val vMain = wh.currentVersion("ev").get
      ev.filter(pmod(col("event_id"), lit(2)) === 1 &&
          col("event_type") === "error")
        .createOrReplaceTempView(s"bsrc_$cat")
      spark.conf.set("spark.graft.wap.branch", "fix")
      try {
        spark.sql(s"INSERT INTO $cat.ev SELECT * FROM bsrc_$cat")
        spark.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
        spark.sql(s"UPDATE $cat.ev SET value = value + 100 " +
          "WHERE event_type = 'view'")
      } finally spark.conf.unset("spark.graft.wap.branch")
      require(wh.currentVersion("ev").contains(vMain),
        "staged branch DML must never move main's pointer")
      spark.sql(s"CALL $cat.system.branch_diff('ev', 'fix', " +
        "'event_id', 'ev_audit')").collect()
      spark.sql(
        s"""SELECT _change_type AS change_type, event_type,
           |  count(*) AS n_rows,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value,
           |  (SELECT count(*) FROM $cat.ev) AS n_main_during_audit
           |FROM $cat.ev_audit
           |GROUP BY _change_type, event_type
           |ORDER BY change_type, event_type""".stripMargin)
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** Z-order INCREMENTAL re-cluster under the oracle gate (q215,
    * round 19): the even events cluster on (user_id, ts_us) — the full
    * rewrite persists its min-max scaling beside the manifest — then an
    * IN-BOUNDS append (the odd errors, filtered strictly inside both
    * seeded ranges) splices incrementally: only the overlapped z region
    * rewrites, untouched files carry by hard link (both REQUIREd), and
    * the manifest-pruned 2-dim box read must equal the oracle's model
    * of exactly that union + box filter.
    */
  def q215ZorderIncremental(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    import graft.plans.{Maintenance, ZoneMap}
    val tmp = java.nio.file.Files.createTempDirectory("graft_zi_q215")
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir)
        .select("event_id", "event_type", "user_id", "ts_us", "value")
      val seed = ev.filter(pmod(col("event_id"), lit(2)) === 0)
        .localCheckpoint(true)
      wh.overwrite(seed.repartition(4), "ev")
      Maintenance.cluster(spark, wh, "ev", Seq("user_id", "ts_us"),
        targetFiles = 6)
      // the appended slice sits strictly INSIDE the seeded ranges on
      // both dims (min/max are the stored scaling's bounds), so the
      // splice path applies; the oracle reproduces the same bounds with
      // scalar subqueries over the same slices
      val b = seed.agg(min("user_id"), max("user_id"),
        min("ts_us"), max("ts_us")).collect()(0)
      val (uLo, uHi, tLo, tHi) =
        (b.getLong(0), b.getLong(1), b.getLong(2), b.getLong(3))
      // a TIGHT patch (the middle third of each dim): its z region must
      // overlap only a few of the 6 range-owned files, so carried files
      // remain to prove the splice
      val (pu1, pu2) = (uLo + (uHi - uLo) / 3, uLo + (uHi - uLo) * 2 / 5)
      val (pt1, pt2) = (tLo + (tHi - tLo) / 3, tLo + (tHi - tLo) * 2 / 5)
      val patch = ev.filter(pmod(col("event_id"), lit(2)) === 1 &&
        col("event_type") === "error" &&
        col("user_id") > pu1 && col("user_id") < pu2 &&
        col("ts_us") > pt1 && col("ts_us") < pt2).localCheckpoint(true)
      wh.appendVersioned(patch.coalesce(1), "ev")
      val before = ZoneMap.dataFileCensus(spark, wh.snapshotPath("ev")).toSet
      require(Maintenance.clusterIncremental(spark, wh, "ev",
        Seq("user_id", "ts_us")),
        "an in-bounds z-order append must take the incremental path")
      val snap = wh.snapshotPath("ev")
      val after = ZoneMap.dataFileCensus(spark, snap).toSet
      require((before intersect after).nonEmpty,
        "the splice must carry untouched files by name")
      require(ZoneMap.isFresh(spark, snap),
        "the merged manifest must match the spliced census")
      // 2-dim box: the middle half of each seeded range (floor-div
      // arithmetic mirrored exactly in the oracle)
      val (bu1, bu2) = (uLo + (uHi - uLo) / 4, uLo + (uHi - uLo) / 2)
      val (bt1, bt2) = (tLo + (tHi - tLo) / 4, tLo + (tHi - tLo) / 2)
      val bounds = Seq(ZoneMap.Bound.between("user_id", bu1, bu2),
        ZoneMap.Bound.between("ts_us", bt1, bt2))
      val (kept, total) = ZoneMap.pruneStats(spark, snap, bounds)
      require(kept < total,
        s"the 2-dim box must prune files through the merged manifest " +
          s"($kept of $total kept)")
      ZoneMap.read(spark, snap, bounds)
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,2)")).cast("double")
            .as("total_value"))
        .orderBy("event_type")
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** The feed-consumer lag surface under the oracle gate (q216,
    * round 19): two consumers register on an emitted feed view —
    * one current, one lagging — and the `<view>.consumers` metadata
    * table must report the closed-form lag: the laggard (minimum
    * cursor, hops piling above) carries `blocking_retention`, the
    * current one does not. Versions and hop numbers are fully
    * deterministic from the staged lifecycle.
    */
  def q216FeedConsumers(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_fc_q216")
    val cat = s"gq216_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(4)) === 0), "m") // v1
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      // first emit registers the feed cursor at v1 (no hops), then two
      // more commits emit hops batch_2 and batch_3
      spark.sql(s"CALL $cat.system.emit_changelog('m', 'feed', 'event_id')")
        .collect()
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(4)) < 2), "m") // v2
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(4)) < 3), "m") // v3
      spark.sql(s"CALL $cat.system.emit_changelog('m', 'feed', 'event_id')")
        .collect()
      // 'etl' absorbed through v1 only (the laggard, 2 hops behind);
      // 'audit' is current at v3
      spark.sql(s"CALL $cat.system.register_consumer('feed', 'etl', 1)")
        .collect()
      spark.sql(s"CALL $cat.system.register_consumer('feed', 'audit', 3)")
        .collect()
      spark.sql(
        s"""SELECT consumer, cursor, hops_behind, blocking_retention
           |FROM $cat.feed.consumers ORDER BY consumer""".stripMargin)
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** Age-based snapshot expiry under the oracle gate (q217, round 19):
    * four staged overwrites, the two oldest backdated an hour, the
    * first tagged; `expire_snapshots(keep_last=1, older_than_ms=
    * now-30min)` must drop EXACTLY the backdated-untagged v2 — the tag
    * pin and the age cutoff both override the count floor — and the
    * surviving lineage (with time-travel counts) equals the oracle's
    * closed form.
    */
  def q217AgeExpiry(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_ae_q217")
    val cat = s"gq217_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      (1 to 4).foreach { k =>
        wh.overwrite(ev.filter(pmod(col("event_id"), lit(4)) < k), "ev")
      }
      def backdate(v: Long): Unit = {
        val dirP = wh.publishedVersions("ev").collectFirst {
          case (`v`, p) => p }.get
        java.nio.file.Files.setLastModifiedTime(
          dirP.resolve(graft.sources.Tables.PublishedMarker),
          java.nio.file.attribute.FileTime.fromMillis(
            System.currentTimeMillis() - 3600 * 1000L))
      }
      backdate(1L); backdate(2L)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.sql(s"CALL $cat.system.create_tag('ev', 'audited', 1)")
        .collect()
      val cutoff = System.currentTimeMillis() - 1800 * 1000L
      val expired = spark.sql(
        s"CALL $cat.system.expire_snapshots('ev', 1, ${cutoff}L)")
        .collect().map(_.getLong(0)).toSeq
      require(expired == Seq(2L),
        s"only the backdated-untagged v2 may expire, got $expired")
      spark.sql(
        s"""SELECT version, is_current, n_rows FROM (
           |  SELECT 1L AS version, false AS is_current,
           |    (SELECT count(*) FROM $cat.ev VERSION AS OF 1) AS n_rows
           |  UNION ALL SELECT 3L, false,
           |    (SELECT count(*) FROM $cat.ev VERSION AS OF 3)
           |  UNION ALL SELECT 4L, true,
           |    (SELECT count(*) FROM $cat.ev VERSION AS OF 4))
           |ORDER BY version""".stripMargin)
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** Checkpoint-coupled feed-consumer auto-advance under the oracle
    * gate (q218, round 20): the same staged feed lifecycle as q216
    * (emit at v1 = cursor only; two commits; emit = hops batch_2 +
    * batch_3), but consumer 'tail' absorbs the feed through
    * [[graft.plans.MirrorChangelog.tailAsConsumer]] — a stock file
    * stream whose retention cursor advances AFTER each durable
    * absorption with ZERO manual `register_consumer` CALLs — while
    * 'etl' is a hand-registered laggard at v1. The consumers metadata
    * table must show the auto consumer current at the emission cursor
    * and the absorbed row census must equal exactly the two hops'
    * insert rows (ids with event_id % 4 IN (1, 2) — unchanged keys
    * emit nothing, so each hop is delta-sized).
    */
  def q218AutoConsumer(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.MirrorChangelog
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_ac_q218")
    val cat = s"gq218_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(4)) === 0), "m") // v1
      MirrorChangelog.emitPending(spark, wh, "m", "feed", "event_id")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(4)) < 2), "m") // v2
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(4)) < 3), "m") // v3
      val hops = MirrorChangelog.emitPending(spark, wh, "m", "feed",
        "event_id")
      require(hops == Seq((1L, 2L), (2L, 3L)), s"staged hops: $hops")
      // the auto consumer: durable idempotent absorption (overwrite
      // keyed by stream batch id), cursor advanced by the helper only
      val outDir = s"$tmp/absorbed"
      val q = MirrorChangelog.tailAsConsumer(spark, wh, "feed", "tail",
        s"$tmp/ckpt") { (b, batchId) =>
        b.write.mode("overwrite").parquet(s"$outDir/b_$batchId")
      }
      q.awaitTermination(120000)
      val preStates = MirrorChangelog.consumerStates(wh, "feed")
      require(preStates.map(_._1) == Seq("tail"),
        s"only the auto consumer may be registered yet: $preStates")
      val tailCur = preStates
        .collectFirst { case ("tail", cur, _, _) => cur }.get
      require(MirrorChangelog.emissionCursor(wh, "feed").contains(tailCur),
        s"auto-advanced cursor $tailCur must equal the emission cursor")
      MirrorChangelog.registerConsumer(wh, "feed", "etl", 1L)
      val absorbed = spark.read.option("recursiveFileLookup", "true")
        .parquet(outDir).count()
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.sql(
        s"""SELECT consumer, cursor, hops_behind, blocking_retention
           |FROM $cat.feed.consumers""".stripMargin)
        .withColumn("absorbed_rows",
          when(col("consumer") === "tail", lit(absorbed))
            .otherwise(lit(null).cast("long")))
        .orderBy("consumer")
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** Size-targeted bin-packing compaction under the oracle gate (q219,
    * round 20): six equal appends land six sub-grain files;
    * `CALL compact(t, 0, target_bytes)` with target = half the volume
    * must pack them into exactly TWO files (count derived from volume,
    * not declared); two further misfit appends then repack
    * churn-proportionally — the two at-grain files carry BY NAME, only
    * the misfits rewrite. The REQUIREs pin the physical contract; the
    * oracle pins that the packed table still serves exactly the source
    * rows.
    */
  def q219SizeCompact(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_sc_q219")
    val cat = s"gq219_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 12)
    def census(path: String): Set[String] = {
      import scala.jdk.CollectionConverters._
      val root = java.nio.file.Paths.get(path)
      java.nio.file.Files.walk(root).iterator().asScala
        .filter(java.nio.file.Files.isRegularFile(_))
        .map(p => root.relativize(p).toString)
        .filter(n => n.endsWith(".parquet") &&
          !n.split('/').exists(s => s.startsWith("_") || s.startsWith(".")))
        .toSet
    }
    try {
      // ~256 incompressible bytes of padding per row so data bytes
      // dominate parquet footer overhead at every SF — byte-banding
      // cannot discriminate file roles when structure outweighs data
      val ev = events(spark, dir).select("event_id", "event_type", "value")
        .withColumn("pad", concat((0 until 4).map(k =>
          sha2(concat(col("event_id").cast("string"), lit(s"#$k")), 256)): _*))
      (0 until 6).foreach(i =>
        wh.appendVersioned(ev.filter(pmod(col("event_id"), lit(8)) === i)
          .coalesce(1), "ev"))
      val p0 = wh.snapshotPath("ev")
      val files0 = census(p0)
      require(files0.size == 6, s"six staged appends: $files0")
      val total = files0.toSeq
        .map(f => java.nio.file.Files.size(
          java.nio.file.Paths.get(p0, f))).sum
      val target = (total + 1) / 2
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "12")
      val r1 = spark.sql(s"CALL $cat.system.compact('ev', 0, ${target}L)")
        .collect().head
      require(r1.getLong(1) == 6L && r1.getLong(2) == 2L,
        s"bytes mode must pack 6 -> 2 (count from volume): $r1")
      val pPacked = wh.snapshotPath("ev")
      val packed = census(pPacked)
      // phase-2 grain from the PACKED files themselves: packing sheds
      // per-file footer overhead, so at tiny SFs the outputs land below
      // the pre-pack-derived band — the carry contract is "at grain
      // stays", so the grain is what the packed layout actually is
      val target2 = packed.toSeq.map(f => java.nio.file.Files.size(
        java.nio.file.Paths.get(pPacked, f))).max
      // two misfit appends, then the churn-proportional repack: the
      // at-grain pair carries by NAME, only the misfits rewrite
      (6 until 8).foreach(i =>
        wh.appendVersioned(ev.filter(pmod(col("event_id"), lit(8)) === i)
          .coalesce(1), "ev"))
      spark.sql(s"CALL $cat.system.compact('ev', 0, ${target2}L)").collect()
      val after = census(wh.snapshotPath("ev"))
      require(packed.subsetOf(after),
        s"right-sized files must carry by name: $packed vs $after")
      require(after.size == 3, s"2 carried + 1 packed expected: $after")
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value
           |FROM $cat.ev GROUP BY event_type
           |ORDER BY event_type""".stripMargin)
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** SQL views under the oracle gate (q220, round 20): a view created
    * over a HALF-staged table must serve the FULL table after the
    * mirror moves — a view is stored SQL text resolved against the
    * current snapshot, not a materialization. The REQUIREs pin the DDL
    * surface (SHOW VIEWS lists it; time travel through the view is
    * refused naming the mechanism); the oracle pins the content read
    * through the view.
    */
  def q220SqlView(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_vw_q220")
    val cat = s"gq220_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.sql(
        s"""CREATE VIEW $cat.by_type AS
           |SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value
           |FROM $cat.ev GROUP BY event_type""".stripMargin)
      require(spark.sql(s"SHOW VIEWS IN $cat").collect()
        .exists(_.getString(1) == "by_type"),
        "SHOW VIEWS must list the created view")
      // not a materialization: the table moves, the view follows
      wh.overwrite(ev, "ev")
      val eTt = scala.util.Try(
        spark.sql(s"SELECT * FROM $cat.by_type VERSION AS OF 1").collect())
      require(eTt.isFailure && Iterator.iterate(eTt.failed.get)(_.getCause)
        .takeWhile(_ != null).exists(x => Option(x.getMessage).exists(
          _.contains("no snapshot lineage"))),
        s"view time travel must refuse by mechanism: $eTt")
      spark.sql(
        s"SELECT * FROM $cat.by_type ORDER BY event_type")
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** Branches / write-audit-publish under the oracle gate (q203,
    * round-14 verdict item 4): a branch forks at main's current
    * snapshot, two staged INSERTs land on it under
    * `spark.graft.wap.branch` (the bad-then-fixed ingest shape: an
    * incomplete batch, audited, then the missing remainder), the audit
    * read (`VERSION AS OF 'ingest'`) aggregates the STAGED state while
    * a scalar subquery proves main never moved during the audit, and
    * `CALL fast_forward` publishes the audited head with one pointer
    * CAS — the post-publish aggregate must equal the oracle's model of
    * the full set. Branch refs are the Iceberg branch semantics
    * (tabular.py:69-70's v2 substrate) on the props sidecar.
    */
  def q203BranchWap(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_br_q203")
    val cat = s"gq203_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.sql(s"CALL $cat.system.create_branch('ev', 'ingest')").collect()
      val vMain = wh.currentVersion("ev").get
      val odd = ev.filter(pmod(col("event_id"), lit(2)) === 1)
      odd.filter(col("event_type") =!= "error")
        .createOrReplaceTempView(s"batch1_$cat")
      odd.filter(col("event_type") === "error")
        .createOrReplaceTempView(s"batch2_$cat")
      spark.conf.set("spark.graft.wap.branch", "ingest")
      val staged =
        try {
          spark.sql(s"INSERT INTO $cat.ev SELECT * FROM batch1_$cat")
          // the AUDIT: branch read aggregates the staged state; main's
          // row count rides along to prove the pointer never moved
          val df = spark.sql(
            s"""SELECT 'staged' AS phase, event_type, count(*) AS n_events,
               |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               |    AS total_value,
               |  (SELECT count(*) FROM $cat.ev) AS n_main_during_audit
               |FROM $cat.ev VERSION AS OF 'ingest'
               |GROUP BY event_type""".stripMargin).localCheckpoint(true)
          // the fix: the audit found batch1 incomplete — stage the rest
          spark.sql(s"INSERT INTO $cat.ev SELECT * FROM batch2_$cat")
          df
        } finally spark.conf.unset("spark.graft.wap.branch")
      require(wh.currentVersion("ev").contains(vMain),
        "branch staging must never move main's pointer")
      spark.sql(s"CALL $cat.system.fast_forward('ev', 'ingest')").collect()
      require(wh.currentVersion("ev").contains(vMain + 2),
        "fast_forward publishes the branch head: one hop, two commits")
      staged.unionByName(spark.sql(
        s"""SELECT 'current' AS phase, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF $vMain)
           |    AS n_main_during_audit
           |FROM $cat.ev GROUP BY event_type""".stripMargin))
        .orderBy("phase", "event_type")
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** WAP branch DML under the oracle gate (q205, round-16 verdict item
    * 2): the FULL write surface routes onto a branch — a merge-on-read
    * table forks, then under `spark.graft.wap.branch` a delta MERGE
    * (matched view rows +100, unmatched odd errors insert) and a
    * sidecar DELETE (clicks) both commit to the BRANCH head while a
    * scalar subquery proves main's snapshot never moved; fast_forward
    * publishes the audited head (sidecars ride), `CALL compact` folds
    * them, and both the staged audit and the post-publish state must
    * hash-equal the oracle's closed-form model. The reference's mirror
    * is maintained by exactly these upserts/deletes (tabular.py:58-64)
    * — auditing them before publication is WAP's point.
    */
  def q205BranchDml(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.{EqDeletes, Tables}
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_bd_q205")
    val cat = s"gq205_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      Tables.TableProps.write(wh, "ev", Map(
        EqDeletes.ModeProp -> "merge-on-read",
        EqDeletes.KeyProp -> "event_id"))
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
      spark.sql(s"CALL $cat.system.create_branch('ev', 'fix')").collect()
      val vMain = wh.currentVersion("ev").get
      ev.filter((pmod(col("event_id"), lit(2)) === 0 &&
          col("event_type") === "view") ||
        (pmod(col("event_id"), lit(2)) === 1 &&
          col("event_type") === "error"))
        .createOrReplaceTempView(s"fixsrc_$cat")
      spark.conf.set("spark.graft.wap.branch", "fix")
      val staged =
        try {
          // delta MERGE onto the branch: O(changed) sidecar + fast
          // append on the BRANCH head, never a base rewrite
          spark.sql(
            s"""MERGE INTO $cat.ev t USING fixsrc_$cat s
               |ON t.event_id = s.event_id
               |WHEN MATCHED THEN UPDATE SET value = t.value + 100
               |WHEN NOT MATCHED THEN INSERT (event_id, event_type, value)
               |  VALUES (s.event_id, s.event_type, s.value)""".stripMargin)
          // sidecar DELETE stacks on the branch head
          spark.sql(s"DELETE FROM $cat.ev WHERE event_type = 'click'")
          require(wh.currentVersion("ev").contains(vMain) &&
            EqDeletes.pending(wh.snapshotPath("ev")).isEmpty,
            "branch DML must never move main or land sidecars on it")
          require(EqDeletes.pending(
            wh.branchSnapshotDir("ev", "fix").toString).size == 2,
            "MERGE delta + DELETE sidecar stack on the branch head")
          spark.sql(
            s"""SELECT 'staged' AS phase, event_type, count(*) AS n_events,
               |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
               |    AS total_value,
               |  (SELECT count(*) FROM $cat.ev) AS n_main_during_audit
               |FROM $cat.ev VERSION AS OF 'fix'
               |GROUP BY event_type""".stripMargin).localCheckpoint(true)
        } finally spark.conf.unset("spark.graft.wap.branch")
      spark.sql(s"CALL $cat.system.fast_forward('ev', 'fix')").collect()
      spark.sql(s"CALL $cat.system.compact('ev', 4)").collect()
      require(EqDeletes.pending(wh.snapshotPath("ev")).isEmpty,
        "compact must fold the published sidecars")
      staged.unionByName(spark.sql(
        s"""SELECT 'current' AS phase, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF $vMain)
           |    AS n_main_during_audit
           |FROM $cat.ev GROUP BY event_type""".stripMargin))
        .orderBy("phase", "event_type")
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** The manifest-credited count under the oracle gate (q194): lineitem
    * clusters by quantity into a scratch warehouse, then THREE
    * `CALL count_fast` interval counts — one fully manifest-contained,
    * one boundary-straddling, one empty — run as plain SQL and must
    * equal DuckDB's plain filtered counts. Exactness is the claim:
    * containment is proven from per-file stats, never sampled.
    */
  def q194CountFastOracle(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_cf_q194")
    val cat = s"gq194_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString)
    try {
      wh.overwrite(t(spark, dir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice"), "li")
      graft.plans.Maintenance.cluster(spark, wh, "li",
        Seq("l_quantity"), targetFiles = 8)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      def cf(label: String, lo: String, hi: String) =
        spark.sql(s"CALL $cat.system.count_fast('li', 'l_quantity', " +
          s"'$lo', '$hi')")
          .select(lit(label).as("probe"), col("rows").as("n_rows"))
      cf("contained", "10", "40")
        .unionAll(cf("boundary", "3", "17"))
        .unionAll(cf("empty", "900", "999"))
        .orderBy("probe")
        .localCheckpoint(true)
    } finally deleteDir(tmp)
  }

  /** The SQL catalog face under the driver's oracle gate (q190): events
    * load into a scratch warehouse as TWO committed snapshots (v1 = the
    * even-keyed half, v2 = everything), a [[graft.sources.GraftCatalog]]
    * registers over it at runtime, and the WHOLE query — both snapshot
    * reads via `VERSION AS OF`, the aggregation, the union — runs as one
    * plain `spark.sql` statement. The oracle sees the same two states as
    * deterministic predicates over the raw events table, so catalog
    * resolution, version-dir routing, and the stock analyzer's time-travel
    * hook must all agree with DuckDB to the hash.
    */
  private val catalogSeq = new java.util.concurrent.atomic.AtomicInteger(0)
  def q190CatalogTimeTravel(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_cat_q190")
    // a session's CatalogManager caches instances by name, so each
    // invocation registers a fresh name over its own scratch warehouse
    val cat = s"gq190_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 4)
    try {
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      wh.overwrite(ev.filter(pmod(col("event_id"), lit(2)) === 0), "ev")
      wh.overwrite(ev, "ev")
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.sql(
        s"""SELECT 'v1' AS snap, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ev VERSION AS OF 1 GROUP BY event_type
           |UNION ALL
           |SELECT 'v2' AS snap, event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ev VERSION AS OF 2 GROUP BY event_type
           |ORDER BY snap, event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** The SQL WRITE lifecycle under the driver's oracle gate (q191): a
    * fresh catalog over a scratch warehouse, then the whole mutation
    * chain in plain SQL — `CREATE TABLE AS SELECT` (atomic versioned
    * create), `INSERT INTO` ([[graft.sources.Tables.Warehouse.appendVersioned]]'s
    * hard-link fast append), `DELETE FROM ... WHERE` (the copy-on-write
    * row-level delete behind the commit CAS) — and the final aggregate
    * read back through the catalog. The oracle replays the same three
    * mutations as pure predicates over the raw events table, so the
    * create/append/delete snapshots must compose to exactly the
    * predicate algebra DuckDB computes, to the hash.
    */
  def q191SqlWriteLifecycle(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_cat_q191")
    val n = catalogSeq.incrementAndGet()
    val cat = s"gq191_$n"
    val src = s"gq191_src_$n"
    try {
      events(spark, dir).select("event_id", "event_type", "value")
        .createOrReplaceTempView(src)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.sql(s"CREATE TABLE $cat.ev AS SELECT * FROM $src " +
        "WHERE event_id % 2 = 0")
      spark.sql(s"INSERT INTO $cat.ev SELECT * FROM $src " +
        "WHERE event_id % 2 = 1 AND event_id % 3 = 0")
      // BETWEEN, not modulo: row-level deletes push as source filters by
      // contract (canDeleteWhere), and range predicates are the shape
      // that stays pushable at any scale
      spark.sql(s"DELETE FROM $cat.ev WHERE event_id BETWEEN 1000 AND 2999")
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally {
      spark.catalog.dropTempView(src)
      deleteDir(tmp)
    }
  }

  /** File-granular COW DELETE under the oracle gate (q206, round 16):
    * an id-clustered copy-on-write table takes a range DELETE whose
    * zone-map bounds admit only a slice of its files — the query
    * REQUIRES that most base files carried into the new version under
    * their own names (hard links, the per-file COW census proof) and
    * that a stats-proven no-match DELETE committed no version at all —
    * then the aggregate must hash-equal the oracle's plain predicate
    * algebra. The write-amplification contract at 100 TB: a point
    * delete's cost tracks the matched region on EVERY DML face.
    */
  def q206FileGranularDelete(spark: SparkSession, dir: String): DataFrame = {
    import graft.sources.Tables.Warehouse
    val tmp = java.nio.file.Files.createTempDirectory("graft_fgd_q206")
    val cat = s"gq206_${catalogSeq.incrementAndGet()}"
    val wh = Warehouse(tmp.toString, retain = 8)
    try {
      wh.overwrite(events(spark, dir)
        .select("event_id", "event_type", "value"), "ev")
      graft.plans.Maintenance.cluster(spark, wh, "ev",
        Seq("event_id"), targetFiles = 8)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      val vPre = wh.currentVersion("ev").get
      val preFiles = graft.plans.ZoneMap
        .dataFileCensus(spark, wh.snapshotPath("ev")).toSet
      // stats prove no match: must commit NOTHING (no version bump)
      spark.sql(s"DELETE FROM $cat.ev WHERE event_id < -1000000")
      require(wh.currentVersion("ev").contains(vPre),
        "a stats-proven no-match DELETE must not commit")
      spark.sql(
        s"DELETE FROM $cat.ev WHERE event_id BETWEEN 1000 AND 2999")
      val postFiles = graft.plans.ZoneMap
        .dataFileCensus(spark, wh.snapshotPath("ev")).toSet
      val carried = preFiles.intersect(postFiles).size
      require(carried >= preFiles.size - 3,
        s"file-granular DELETE must carry unmatched files by name: " +
          s"carried $carried of ${preFiles.size}")
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_value,
           |  (SELECT count(*) FROM $cat.ev VERSION AS OF $vPre)
           |    AS n_pre_delete
           |FROM $cat.ev GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** `MERGE INTO` under the driver's oracle gate (q192): a mirror CTAS'd
    * from the even-keyed events slice, then ONE literal `MERGE INTO`
    * statement applies a deterministic change batch — deletes where
    * `event_id % 10 = 0`, value-doubling updates for the matched rest,
    * inserts for unmatched — through Spark's group-based copy-on-write
    * row-level operation ([[graft.sources.GraftCowBatchWrite]]: the
    * post-merge rows stream into an exclusively-allocated stage published
    * by pointer CAS). The oracle computes the same final state as pure
    * predicate algebra over the raw events table, so the whole rewrite
    * (scan-without-group-filter, conditional copy, merge semantics,
    * snapshot publish) must agree with DuckDB to the hash.
    */
  def q192MergeIntoLifecycle(spark: SparkSession, dir: String): DataFrame = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_cat_q192")
    val n = catalogSeq.incrementAndGet()
    val cat = s"gq192_$n"
    val src = s"gq192_src_$n"
    try {
      events(spark, dir).select("event_id", "event_type", "value")
        .createOrReplaceTempView(src)
      spark.conf.set(s"spark.sql.catalog.$cat",
        classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", tmp.toString)
      spark.sql(s"CREATE TABLE $cat.mirror AS SELECT * FROM $src " +
        "WHERE event_id % 2 = 0")
      spark.sql(
        s"""MERGE INTO $cat.mirror t
           |USING (SELECT event_id, event_type, value * 2 AS value,
           |         event_id % 10 = 0 AS is_del
           |       FROM $src WHERE event_id % 3 = 0) s
           |ON t.event_id = s.event_id
           |WHEN MATCHED AND s.is_del THEN DELETE
           |WHEN MATCHED THEN UPDATE SET value = s.value
           |WHEN NOT MATCHED AND NOT s.is_del THEN
           |  INSERT (event_id, event_type, value)
           |  VALUES (s.event_id, s.event_type, s.value)""".stripMargin)
      spark.sql(
        s"""SELECT event_type, count(*) AS n_events,
           |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM $cat.mirror GROUP BY event_type ORDER BY event_type""".stripMargin)
        .localCheckpoint(true)
    } finally {
      spark.catalog.dropTempView(src)
      deleteDir(tmp)
    }
  }

  /** National market share (q166) — the TPC-H Q8 shape: the share of
    * PROMO-part revenue supplied by NATION_0, per order year. Two exact
    * DECIMAL revenue sums per year (nation slice and total) from ONE
    * aggregation pass — a conditional aggregate instead of Q8's CASE
    * inside sum-over-window or a self-join — then one double division
    * at the end (exact partial-order-independent sums, the q159/q90
    * recipe). Join order: lineitem reduces against the broadcast PROMO
    * part list and the broadcast supplier->nation map BEFORE the
    * orders join carries the year in.
    */
  def q166MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val promo = t(spark, dir, "part").filter(col("p_type") === "PROMO")
      .select(col("p_partkey"))
    val suppNation = t(spark, dir, "supplier")
      .join(t(spark, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name"))
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    t(spark, dir, "lineitem")
      .join(broadcast(promo), col("l_partkey") === col("p_partkey"), "left_semi")
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "orders").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        sum(when(col("n_name") === "NATION_0", rev)
          .otherwise(lit(0).cast("decimal(18,2)"))).as("nation_rev"),
        sum(rev).as("total_rev"))
      .select(col("o_year"),
        (col("nation_rev").cast("double") / col("total_rev").cast("double"))
          .as("mkt_share"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy(col("o_year"))
  }

  /** Cross-nation trade volume (q167) — the TPC-H Q7 shape: revenue
    * shipped between two nations, both directions, per order year
    * (customer's nation vs supplier's nation; the fixture has no
    * l_shipdate-year restriction need — all years reported). Both
    * nation maps broadcast; the only corpus-sized shuffles are the two
    * fact joins on their natural keys; exact DECIMAL sums, one cast at
    * the end.
    */
  def q167TradeVolume(spark: SparkSession, dir: String): DataFrame = {
    val nations = Seq("NATION_0", "NATION_1")
    val n = t(spark, dir, "nation").select("n_nationkey", "n_name")
      .filter(col("n_name").isin(nations: _*))
    val suppN = t(spark, dir, "supplier")
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name").as("supp_nation"))
    val custN = t(spark, dir, "customer")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("n_name").as("cust_nation"))
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    t(spark, dir, "lineitem")
      .join(broadcast(suppN), col("l_suppkey") === col("s_suppkey"))
      .join(t(spark, dir, "orders").select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(custN, col("o_custkey") === col("c_custkey"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(sum(rev).cast("double").as("volume"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("supp_nation"), col("cust_nation"), col("o_year"))
  }

  /** Top supplier(s) (q168) — the TPC-H Q15 shape: a revenue view per
    * supplier over a time slice, then the suppliers whose revenue EQUALS
    * the scalar maximum (ties kept, the part of Q15 that trips naive
    * LIMIT 1 rewrites). Exact DECIMAL revenue sums make the equality
    * well-defined across engines — a double-summed revenue could differ
    * in the last ulp between partial orders and drop a tied winner. One
    * corpus aggregation, a broadcast scalar max, a broadcast supplier
    * enrichment.
    */
  def q168TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = t(spark, dir, "lineitem")
      .join(t(spark, dir, "orders")
          .filter(year(col("o_orderdate")) === 1998)
          .select(col("o_orderkey")),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .as("total_rev"))
    val mx = rev.agg(max(col("total_rev")).as("mx"))
    rev.crossJoin(broadcast(mx))
      .filter(col("total_rev") === col("mx"))
      .join(broadcast(t(spark, dir, "supplier").select("s_suppkey", "s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        col("total_rev").cast("double").as("total_rev"))
      .orderBy(col("s_suppkey"))
  }

  /** Disjunctive-predicate revenue (q169) — the TPC-H Q19 shape: an OR
    * of conjunctive (brand, quantity-band) clauses across a fact-dim
    * join. The optimizer shape under test: Catalyst must extract the
    * common `p_brand IN (...)` superset for pushdown into the part scan
    * while the full disjunction evaluates post-join — an engine that
    * can't decompose the OR reads every part row. The part side
    * broadcasts; one aggregation, one row out.
    */
  def q169DisjunctiveRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .select("l_partkey", "l_quantity", "l_extendedprice", "l_discount")
    val p = t(spark, dir, "part").select("p_partkey", "p_brand", "p_size")
    val clause =
      (col("p_brand") === "Brand#11" && col("l_quantity").between(1, 11) &&
        col("p_size").between(1, 5)) ||
      (col("p_brand") === "Brand#22" && col("l_quantity").between(10, 20) &&
        col("p_size").between(1, 10)) ||
      (col("p_brand") === "Brand#33" && col("l_quantity").between(20, 30) &&
        col("p_size").between(1, 15))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(clause)
      .agg(
        sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  /** Customer order-count distribution (q170) — the TPC-H Q13 shape:
    * LEFT OUTER join customers to their orders (zero-order customers must
    * appear with count 0 — the part an inner join silently loses), count
    * per customer, then the histogram of counts. Two hash aggs; the
    * second is |distinct counts|-sized. The outer-join agg is the classic
    * skew shape: one mega-customer would hot-spot a single reducer — at
    * skew the salted two-phase agg (q84's kernel) replaces phase one.
    */
  def q170CustDist(spark: SparkSession, dir: String): DataFrame = {
    val perCust = t(spark, dir, "customer").select(col("c_custkey"))
      .join(t(spark, dir, "orders").select(col("o_custkey")),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy(col("c_custkey"))
      .agg(count(col("o_custkey")).as("c_count")) // count skips the outer nulls
    perCust.groupBy(col("c_count"))
      .agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Trailing-30-day customer revenue (q171) — the VALUE-based window
    * frame (`rangeBetween`), the one frame kind the surface's
    * `rowsBetween` queries don't cover: orders are irregularly spaced,
    * so "the last 30 days" is a RANGE over the ordering VALUE (epoch
    * day), not a row count — a row frame would silently include
    * arbitrarily old orders for sparse customers. One window shuffle on
    * the customer key; the frame is evaluated by Catalyst's sliding
    * range-frame executor (each partition sorted once, two moving
    * pointers — O(n) per customer, never O(n²) re-aggregation).
    */
  def q171TrailingWindow(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .withColumn("d", datediff(col("o_orderdate"), lit("1995-01-01").cast("date")).cast("long"))
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("d"))
      .rangeBetween(-29, 0)
    o.withColumn("trail30",
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w))
      .select(col("o_custkey"), col("o_orderkey"), col("d").as("epoch_day"),
        col("trail30").cast("double").as("trail30_total"))
      .orderBy(col("o_custkey"), col("epoch_day"), col("o_orderkey"))
  }

  /** Order-priority checking (q172) — the TPC-H Q4 shape: a CORRELATED
    * EXISTS whose predicate is part-equi, part-INEQUALITY (a line shipped
    * strictly after the order date), then the priority census. The
    * non-equi conjunct rides the equi semi-join as a residual condition —
    * Spark plans the orderkey equality as the join key and evaluates the
    * date comparison inside the join, so this stays a hash/SMJ semi-join,
    * never a nested loop (the surface's other semi-joins are pure equi;
    * this pins the mixed form).
    */
  def q172PriorityCheck(spark: SparkSession, dir: String): DataFrame = {
    val o = t(spark, dir, "orders")
      .select("o_orderkey", "o_orderdate", "o_orderpriority")
    val li = t(spark, dir, "lineitem").select("l_orderkey", "l_shipdate")
    o.join(li,
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("order_count"))
      .orderBy(col("o_orderpriority"))
  }

  def q94Orphans(spark: SparkSession, dir: String): DataFrame = {
    val d = t(spark, dir, "documents").select(col("doc_id"))
    val e = t(spark, dir, "embeddings").select(col("vec_id"))
    val docsOnly = d.join(e, col("doc_id") === col("vec_id"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("docs_without_embedding").as("kind"), col("n"))
    val vecsOnly = e.join(d, col("vec_id") === col("doc_id"), "left_anti")
      .agg(count(lit(1)).as("n")).select(lit("embeddings_without_doc").as("kind"), col("n"))
    val matched = d.join(e, col("doc_id") === col("vec_id"), "left_semi")
      .agg(count(lit(1)).as("n")).select(lit("matched").as("kind"), col("n"))
    docsOnly.unionByName(vecsOnly).unionByName(matched).orderBy(col("kind"))
  }

  /** Scalar-subquery pattern (TPC-H Q17-style, SURVEY §2.3 J1): per-part
    * average quantity joined back against the fact. The per-part agg's
    * cardinality is ∝ |part| (it grows with SF), so it may only broadcast
    * AFTER the semi-join against the filtered dim bounds it by the
    * `p_size < 20` part set — broadcasting the raw agg was only "tiny" at
    * bench scale (round-3 verdict).
    */
  def q12ScalarSubquery(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val part = t(spark, dir, "part").filter(col("p_size") < 20)
    val avgQ = li.groupBy(col("l_partkey").as("a_partkey"))
      .agg((sum(col("l_quantity").cast("decimal(18,2)")).cast("double") /
            count(lit(1))).as("avg_qty"))
      .join(part.select(col("p_partkey").as("a_partkey")), Seq("a_partkey"), "left_semi")
    li.join(broadcast(part), col("l_partkey") === col("p_partkey"))
      .join(broadcast(avgQ), col("l_partkey") === col("a_partkey"))
      .filter(col("l_quantity") < lit(0.5) * col("avg_qty"))
      .agg(dsum(col("l_extendedprice")).as("total_price"), count(lit(1)).as("n_items"))
  }

  /** Conditional aggregation (TPC-H Q12-style, SURVEY A3): CASE inside SUM
    * over a fact-fact join.
    */
  def q13ConditionalAgg(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
    val ord = t(spark, dir, "orders")
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(when(col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("high_priority"),
        sum(when(!col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1L).otherwise(0L))
          .as("low_priority"))
      .orderBy(col("l_returnflag"))
  }

  // --------------------------------------------------------------------
  // Events: JSON, time windows, sessionization, CDC-as-query
  // --------------------------------------------------------------------

  /** JSON extraction (SURVEY F3) + aggregation over events.props. */
  def q14Json(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        dsum(col("value")).as("sum_value"),
        (dsum(col("value")) / count(lit(1))).as("avg_value"))
      .orderBy(col("event_type"))

  /** Tumbling event-time window (SURVEY T3) — the batch-mode shape of the
    * streaming windowed agg; `window()` aligns to the epoch so the bucket is
    * reproducible as integer µs arithmetic in the oracle.
    */
  def q15TumblingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(timestamp_micros(col("ts_us")), "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("bucket_us"),
        col("n_events"), col("n_users"), col("sum_value"))
      .orderBy(col("bucket_us"))

  /** Sliding event-time window (SURVEY T3): 2-day windows advancing 1 day —
    * every event lands in exactly width/slide = 2 windows. The oracle
    * reproduces the window set as the union of the 2 epoch-aligned buckets
    * covering each event.
    */
  def q44SlidingWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(window(timestamp_micros(col("ts_us")), "2 days", "1 day").as("w"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(unix_micros(col("w.start")).as("bucket_us"),
        col("n_events"), col("sum_value"))
      .orderBy(col("bucket_us"))

  /** Session window (SURVEY T3): 30-minute-gap sessions per user via Spark's
    * native session_window; span computed from min/max so the semantics are
    * exactly reproducible in the oracle's lag+cumsum sessionization.
    */
  def q16SessionWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(col("user_id"),
        session_window(timestamp_micros(col("ts_us")), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts_us")).as("session_start_us"),
        (max(col("ts_us")) - min(col("ts_us"))).as("span_us"))
      .select("user_id", "session_start_us", "n_events", "span_us")
      .orderBy(col("user_id"), col("session_start_us"))

  /** CDC A1 as a query: latest event per user via one hash agg (max_by) —
    * the same latest-per-key kernel the CDC merge uses; no window sort.
    */
  def q17CdcLatestPerKey(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark) // RewriteMaxByToLatestRow
    val ev = events(spark, dir)
    val payload = struct(col("event_id"), col("event_type"), col("value"), col("ts_us"))
    ev.groupBy(col("user_id"))
      .agg(max_by(payload, struct(col("ts_us"), col("event_id"))).as("last"))
      .select(col("user_id"), col("last.event_id").as("last_event_id"),
        col("last.event_type").as("last_event_type"),
        col("last.value").as("last_value"), col("last.ts_us").as("last_ts_us"))
      .orderBy(col("user_id"))
  }

  /** CDC A2 fold as a query: events re-labelled as a DMS-style changelog
    * (errors = deletes) folded through the production [[Cdc.applyAll]]
    * kernel — key=user_id, ordering=event_id (monotone with ts in this
    * table). Proves the merge kernel itself under the DuckDB oracle gate.
    */
  def q18CdcFold(spark: SparkSession, dir: String): DataFrame = {
    val ch = events(spark, dir)
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .select("user_id", "event_id", "event_type", "value", "op")
    Cdc.applyAll(ch, CdcConfig(keyCol = "user_id", tsCol = "event_id"))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"), col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  /** q18's changelog driven through the MERGE-ON-READ mirror lifecycle
    * ([[graft.plans.MorMirror]]): initialize from a first slice, commit
    * three O(delta) delta batches (tombstones = equality deletes), then
    * answer from the read-time bucket-pruned fold — under the SAME DuckDB
    * oracle as q18, so MOR state == COW state == oracle on one changelog
    * (the round-9 verdict's done-condition). Batches split by
    * `event_id % 4`, so every batch spreads across all key buckets — the
    * exact access pattern that degrades the COW rewrite to O(mirror) and
    * that MOR commits without reading the base at all. The scratch
    * warehouse is deleted after an eager checkpoint pins the result.
    */
  def q163MorMirror(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.MorMirror
    import graft.sources.Tables.Warehouse
    val cfg = CdcConfig(keyCol = "user_id", tsCol = "event_id")
    val ch = events(spark, dir)
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .select("user_id", "event_id", "event_type", "value", "op")
      .withColumn("_b", pmod(col("event_id"), lit(4)).cast("int"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_mor_q163")
    val wh = Warehouse(tmp.toString)
    try {
      MorMirror.initialize(wh, "mirror",
        Cdc.fold(ch.filter(col("_b") === 0).drop("_b"), cfg), cfg, nBuckets = 16)
      (1 to 3).foreach { b =>
        MorMirror.appendDelta(wh, "mirror",
          ch.filter(col("_b") === b).drop("_b"), batchId = b.toLong)
      }
      MorMirror.read(spark, wh, "mirror")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("event_type").as("last_event_type"), col("value").as("last_value"))
        .orderBy(col("user_id"))
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** COMPOSITE-key CDC mirror lifecycle under the oracle gate (q210,
    * round 17): the whole fold keyed on (user_id, event_type) —
    * `cdc.key-column = user_id,event_type`, the compound-PK DMS shape —
    * driven through the MERGE-ON-READ mirror: initialize from one
    * slice, three O(delta) delta batches whose buckets hash the FULL
    * tuple, read back through the bucket-pruned fold. An 'error' change
    * tombstones only its own (user, error) key; other types' latest
    * event per (user, type) wins. Same DuckDB closed form as q18's with
    * the two-column window partition.
    */
  def q210MorCompositeMirror(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.MorMirror
    import graft.sources.Tables.Warehouse
    val cfg = CdcConfig(keyCol = "user_id,event_type", tsCol = "event_id")
    val ch = events(spark, dir)
      .withColumn("op", when(col("event_type") === "error", lit("D"))
        .otherwise(lit("U")))
      .select("user_id", "event_id", "event_type", "value", "op")
      .withColumn("_b", pmod(col("event_id"), lit(4)).cast("int"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_mor_q210")
    val wh = Warehouse(tmp.toString)
    try {
      MorMirror.initialize(wh, "mirror",
        Cdc.fold(ch.filter(col("_b") === 0).drop("_b"), cfg), cfg,
        nBuckets = 16)
      (1 to 3).foreach { b =>
        MorMirror.appendDelta(wh, "mirror",
          ch.filter(col("_b") === b).drop("_b"), batchId = b.toLong)
      }
      MorMirror.read(spark, wh, "mirror")
        .select(col("user_id"), col("event_type"),
          col("event_id").as("last_event_id"),
          col("value").as("last_value"))
        .orderBy(col("user_id"), col("event_type"))
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Changelog OF the mirror ([[graft.plans.MirrorChangelog]]): the
    * row-level diff between two mirror snapshots — version N = the fold of
    * changes up to the median event id, version M = the fold of all — as
    * insert / delete / update_before / update_after rows with before/after
    * images. The DuckDB oracle recomputes the same diff with a FULL OUTER
    * JOIN of the two folds, hash-exact. One shuffle join on the key;
    * unchanged keys emit zero rows (delta-sized output).
    */
  def q164MirrorChangelog(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.MirrorChangelog
    val cfg = CdcConfig(keyCol = "user_id", tsCol = "event_id")
    val ch = events(spark, dir)
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .select("user_id", "event_id", "event_type", "value", "op")
    // integer division: DuckDB's double->bigint cast ROUNDS, Spark's
    // truncates — `div` agrees exactly in both engines
    val cut = events(spark, dir).agg(expr("max(event_id) div 2").as("_cut"))
    // drop the internal ingest-seq: it differs between the two folds and
    // would fabricate updates for otherwise-identical rows
    val oldV = Cdc.applyAll(
      ch.crossJoin(broadcast(cut)).filter(col("event_id") <= col("_cut"))
        .drop("_cut"), cfg).drop(Cdc.SeqCol)
    val newV = Cdc.applyAll(ch, cfg).drop(Cdc.SeqCol)
    MirrorChangelog.diff(oldV, newV, "user_id")
      .orderBy(col("user_id"), col(MirrorChangelog.ChangeTypeCol))
  }

  private def deleteDir(p: java.nio.file.Path): Unit =
    graft.sources.Tables.deleteRecursively(p)

  /** Seeded fold with a null-op seed column (q173): the q18 changelog
    * split at the median event id into a SNAPSHOT seed (visible state,
    * envelope stripped, then an op column of NULLS re-attached — the
    * mixed-file seed shape `tools/verify_mor_layout.py` exposed) merged
    * with the remaining changes through the production [[Cdc.applyBatch]].
    * Equals q18's full fold under the SAME oracle: seed rows re-enter
    * with their true ordering value and null ops coalesce to U — the
    * round-10 null-op visibility fix held under the driver's permanent
    * gate, not just a spec.
    */
  def q173MixedSeedFold(spark: SparkSession, dir: String): DataFrame = {
    val cfg = CdcConfig(keyCol = "user_id", tsCol = "event_id")
    val ch = events(spark, dir)
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .select("user_id", "event_id", "event_type", "value", "op")
    val cut = events(spark, dir).agg(expr("max(event_id) div 2").as("_cut"))
    val chC = ch.crossJoin(broadcast(cut))
    val seed = Cdc.applyAll(chC.filter(col("event_id") <= col("_cut")).drop("_cut"), cfg)
      .drop(Cdc.SeqCol)
      .withColumn("op", lit(null).cast("string")) // the mixed-seed shape
    val late = chC.filter(col("event_id") > col("_cut")).drop("_cut")
    Cdc.currentState(Cdc.applyBatch(seed, late, cfg))
      .select(col("user_id"), col("event_id").as("last_event_id"),
        col("event_type").as("last_event_type"), col("value").as("last_value"))
      .orderBy(col("user_id"))
  }

  /** Non-additive schema evolution under the oracle gate (q174): the q18
    * changelog split into two SCHEMA EPOCHS — epoch 1 carries the event
    * type as `name` and an INT score, epoch 2 RENAMES it to `etype`
    * (declared through [[graft.sources.SchemaEvolution.declareRename]],
    * the externalized Iceberg field-id table) and WIDENS the score to
    * BIGINT — folded through the merge-on-read mirror. The read-side
    * normalize + widened scan must make both epochs one history: the
    * DuckDB oracle computes the same latest-per-key over the UN-split
    * changelog, so any fork (renamed column not rejoining) or width
    * mismatch hash-fails. Mechanism of record for a CDC source (DMS
    * included) renaming columns mid-stream.
    */
  def q174SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.MorMirror
    import graft.sources.{SchemaEvolution, Tables}
    import Tables.Warehouse
    val cfg = CdcConfig(keyCol = "user_id", tsCol = "event_id")
    val ev = events(spark, dir)
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
    val cut = events(spark, dir).agg(expr("max(event_id) div 2").as("_cut"))
    val evC = ev.crossJoin(broadcast(cut))
    val epoch1 = evC.filter(col("event_id") <= col("_cut"))
      .select(col("user_id"), col("event_id"),
        col("event_type").as("name"),
        pmod(col("event_id"), lit(997)).cast("int").as("score"), col("op"))
    val epoch2 = evC.filter(col("event_id") > col("_cut"))
      .select(col("user_id"), col("event_id"),
        col("event_type").as("etype"),
        pmod(col("event_id"), lit(997)).cast("long").as("score"), col("op"))
    val tmp = java.nio.file.Files.createTempDirectory("graft_se_q174")
    val wh = Warehouse(tmp.toString)
    try {
      MorMirror.initialize(wh, "mirror", Cdc.fold(epoch1, cfg), cfg, nBuckets = 16)
      SchemaEvolution.declareRename(wh, "mirror", "name", "etype")
      MorMirror.appendDelta(wh, "mirror", epoch2, batchId = 1)
      MorMirror.read(spark, wh, "mirror")
        .select(col("user_id"), col("event_id").as("last_event_id"),
          col("etype").as("last_etype"),
          col("score").cast("long").as("last_score"))
        .orderBy(col("user_id"))
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** Feed-driven incremental view maintenance under the oracle gate
    * (q177): the q18 mirror committed as THREE versions (folds of
    * successively longer changelog prefixes), with a downstream
    * `groupBy(event_type).agg(count, sum(value))` maintained ONLY from
    * the materialized changelog feed —
    * [[graft.plans.MirrorChangelog.maintainAggregate]] bootstraps one
    * snapshot at the feed cursor, then folds each version hop's
    * retraction rows; the mirror is never rescanned. The DuckDB oracle
    * recomputes the aggregate from the FINAL fold directly, so any
    * double-apply, missed hop, or tombstone-visibility slip hash-fails.
    * This is the IVM analog of the streaming==batch contracts: the feed
    * is proven to DRIVE a downstream state, not just describe changes.
    */
  def q177FeedIvm(spark: SparkSession, dir: String): DataFrame = {
    import graft.plans.{IncrementalAgg, MirrorChangelog}
    import graft.sources.Tables.Warehouse
    val cfg = CdcConfig(keyCol = "user_id", tsCol = "event_id")
    val ch = events(spark, dir)
      .withColumn("op", when(col("event_type") === "error", lit("D")).otherwise(lit("U")))
      .select("user_id", "event_id", "event_type", "value", "op")
    val cuts = events(spark, dir).agg(
      expr("max(event_id) div 3").as("_c1"),
      expr("2 * (max(event_id) div 3)").as("_c2"))
    // checkpoint ONCE: three folds share this frame, and without the pin
    // each one re-scans events + re-joins the cut row (3x source reads
    // for a lifecycle whose point is the downstream feed, not the scan)
    val chC = ch.crossJoin(broadcast(cuts)).localCheckpoint(true)
    def fold(pred: org.apache.spark.sql.Column): DataFrame =
      Cdc.fold(chC.filter(pred).drop("_c1", "_c2"), cfg)
        .drop(Cdc.SeqCol).localCheckpoint(true)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivm_q177")
    val wh = Warehouse(tmp.toString, retain = 4)
    val spec = IncrementalAgg.Spec(col("event_type"), col("value"))
    try {
      wh.overwrite(fold(col("event_id") <= col("_c1")), "mirror")
      MirrorChangelog.maintainAggregate(spark, wh, "mirror", "feed", "agg",
        "user_id", spec) // bootstrap at v1
      wh.overwrite(fold(col("event_id") <= col("_c2")), "mirror")
      wh.overwrite(fold(lit(true)), "mirror")
      MirrorChangelog.maintainAggregate(spark, wh, "mirror", "feed", "agg",
        "user_id", spec) // two hops absorbed in one pass
      wh.read(spark, "agg")
        .select(col("g").as("event_type"), col("n").as("n_users"),
          col("s").cast("double").as("total_value"))
        .orderBy(col("event_type"))
        .localCheckpoint(true) // pin rows before the scratch files vanish
    } finally deleteDir(tmp)
  }

  /** SCD Type-2 history (the CDC changelog materialized as a slowly-
    * changing dimension instead of a latest-wins mirror): every change
    * becomes a version row with [valid_from, valid_to) bounds from the next
    * change's timestamp; open versions are marked current. One window
    * shuffle on the key — the natural companion to the A2 fold when
    * downstream needs time travel rather than current state.
    */
  def q48Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
    events(spark, dir)
      .filter(col("user_id") < 20) // bounded key slice keeps output stable-size
      .withColumn("valid_from_us", col("ts_us"))
      .withColumn("valid_to_us", lead(col("ts_us"), 1).over(w))
      .withColumn("is_current", col("valid_to_us").isNull)
      .select("user_id", "event_id", "event_type", "value",
        "valid_from_us", "valid_to_us", "is_current")
      .orderBy(col("user_id"), col("event_id"))
  }

  /** As-of join (SURVEY J3): each purchase matched to the user's most
    * recent click at-or-before it. Spark-first shape: NO inequality join —
    * union both streams and take a running `last(click)` window, which
    * shuffles each row once and scales linearly; an inequality join would
    * be quadratic per user. Oracle cross-validates against DuckDB's native
    * ASOF JOIN.
    */
  def q19AsofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val tagged = ev.filter(col("event_type").isin("click", "purchase"))
      .withColumn("is_click", (col("event_type") === "click").cast("int"))
    // clicks sort before purchases at equal ts (no ties in data; defined anyway)
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_us"), col("is_click").desc, col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tagged
      .withColumn("last_click", last(
        when(col("is_click") === 1,
          struct(col("ts_us"), col("value"))), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("last_click").isNotNull)
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_click.ts_us").as("click_ts_us"),
        col("last_click.value").as("click_value"),
        (col("ts_us") - col("last_click.ts_us")).as("gap_us"))
      .orderBy(col("event_id"))
  }

  /** q19's semantics through the dedicated [[graft.plans.AsOfJoin]]
    * operator — custom logical node, planner strategy, and streaming-merge
    * physical exec (§2.10(c)) — instead of the union + running-window
    * composition. Both run against the SAME DuckDB `ASOF JOIN` oracle, so
    * the custom operator and the composed form cross-check each other
    * every verify round. The merge pass needs no window state and no
    * combined click+purchase sort — see [[graft.plans.AsOfJoinExec]].
    */
  def q99AsofCustom(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts_us").as("click_ts_us"),
        col("value").as("click_value"))
    graft.plans.AsOf.join(purchases, clicks,
        leftKey = "user_id", rightKey = "c_user_id",
        leftTsCol = "ts_us", rightTsCol = "click_ts_us")
      .withColumn("gap_us", col("ts_us") - col("click_ts_us"))
      .select("event_id", "user_id", "ts_us", "click_ts_us", "click_value", "gap_us")
      .orderBy(col("event_id"))
  }

  /** Left-OUTER as-of (q99 with `outer = true` — the pandas `merge_asof`
    * default): purchases with no prior click SURVIVE null-extended instead
    * of vanishing, which is what an enrichment pipeline almost always
    * wants (round-5 verdict gap #1). Same merge exec, same single
    * exchange+sort per side; the oracle is DuckDB's native `ASOF LEFT
    * JOIN`, so the null-extension semantics are cross-checked, not
    * asserted.
    */
  def q101AsofOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts_us").as("click_ts_us"),
        col("value").as("click_value"))
    graft.plans.AsOf.join(purchases, clicks,
        leftKey = "user_id", rightKey = "c_user_id",
        leftTsCol = "ts_us", rightTsCol = "click_ts_us", outer = true)
      .withColumn("gap_us", col("ts_us") - col("click_ts_us"))
      .select("event_id", "user_id", "ts_us", "click_ts_us", "click_value", "gap_us")
      .orderBy(col("event_id"))
  }

  /** Gap bound for the q158 tolerance as-of: 1 hour in µs. */
  private val AsofTolUs = 3600000000L

  /** Tolerance as-of (q158): q101's outer backward enrichment with the
    * exec's THIRD semantic axis exercised against an oracle — a match
    * counts only when the gap is within [[AsofTolUs]] (a click 1h+1µs
    * old attributes nothing; pandas merge_asof's `tolerance`). Backward
    * nearest is the maximal-ts match, so beyond-tolerance means NO
    * in-tolerance match exists and the outer row null-extends — which is
    * exactly how the DuckDB oracle expresses it (native ASOF LEFT JOIN,
    * then the CASE that nulls beyond-gap matches). The fuzz spec covers
    * tolerance on random corpora; this pins it to the DuckDB gate on the
    * real fixture. Same streaming-merge scale shape as q19/q101.
    */
  def q158AsofTolerance(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"), col("ts_us").as("click_ts_us"),
        col("value").as("click_value"))
    graft.plans.AsOf.join(purchases, clicks,
        leftKey = "user_id", rightKey = "c_user_id",
        leftTsCol = "ts_us", rightTsCol = "click_ts_us",
        tolerance = Some(AsofTolUs), outer = true)
      .withColumn("gap_us", col("ts_us") - col("click_ts_us"))
      .select("event_id", "user_id", "ts_us", "click_ts_us", "click_value",
        "gap_us")
      .orderBy(col("event_id"))
  }

  /** Composite-key as-of (the `Seq[String]` key surface of
    * [[graft.plans.AsOf.join]], round-5 verdict item #6): each purchase
    * matched to the user's latest click THE SAME UTC DAY — equality on
    * (user_id, day), as-of on ts. The day column is exact integer
    * floor-div of epoch micros, so both engines bucket identically; the
    * oracle is DuckDB ASOF JOIN with the two-predicate equality.
    */
  def q102AsofMultikey(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"),
        expr("ts_us div 86400000000").as("day"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        expr("ts_us div 86400000000").as("c_day"),
        col("ts_us").as("click_ts_us"), col("value").as("click_value"))
    graft.plans.AsOf.join(purchases, clicks,
        leftKeys = Seq("user_id", "day"), rightKeys = Seq("c_user_id", "c_day"),
        leftTsCol = "ts_us", rightTsCol = "click_ts_us",
        forward = false, tolerance = None, outer = false)
      .withColumn("gap_us", col("ts_us") - col("click_ts_us"))
      .select("event_id", "user_id", "day", "ts_us", "click_ts_us",
        "click_value", "gap_us")
      .orderBy(col("event_id"))
  }

  /** FORWARD as-of through the custom exec (q99's `forward = true` branch,
    * previously fuzz-covered only): each purchase matched to the user's
    * EARLIEST click at-or-after it — post-purchase engagement lead time.
    * The oracle is DuckDB ASOF with the inequality flipped
    * (`p.ts_us <= c.ts_us` selects the smallest click ts >= purchase ts),
    * so the forward merge branch gets the same cross-engine gate as the
    * backward one.
    */
  def q103AsofForward(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir)
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_us"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user_id"),
        col("ts_us").as("next_click_ts_us"), col("value").as("next_click_value"))
    graft.plans.AsOf.join(purchases, clicks,
        leftKey = "user_id", rightKey = "c_user_id",
        leftTsCol = "ts_us", rightTsCol = "next_click_ts_us", forward = true)
      .withColumn("lead_us", col("next_click_ts_us") - col("ts_us"))
      .select("event_id", "user_id", "ts_us", "next_click_ts_us",
        "next_click_value", "lead_us")
      .orderBy(col("event_id"))
  }

  /** Approximate distinct (SURVEY A3, HLL): no DuckDB oracle — HLL sketches
    * are engine-specific — so the driver records a rows-only check; the
    * exact twin q10 is the hash-checked variant.
    */
  /** Approximate distinct via a deterministic KMV (k-minimum-values) sketch
    * (SURVEY A3). Unlike HLL (whose register layout is engine-private), KMV
    * is exactly reproducible in any engine: hash each key to a uniform
    * 60-bit integer (first 15 hex chars of md5), keep the k smallest
    * distinct hashes per group, and estimate |D| = (k-1) * 2^60 / kth_min.
    * Groups with <= k distinct keys report the exact count.
    *
    * Scale notes: the distinct() is a partial+final hash agg on
    * (event_type, h) — map-side combine collapses duplicates before the
    * shuffle; the sketch itself is the [[graft.functions.KmvSketch]]
    * TypedImperativeAggregate (bounded k-element buffer, map-side partial
    * aggregation under ObjectHashAggregateExec), so no per-group window or
    * sort ever materializes a group's full distinct set on one task. The
    * exact count rides the same hash agg for the accuracy demonstration.
    * At 100 TB the same sketch merges associatively (union the k-min sets,
    * re-take k minima — see q57), so it can be maintained incrementally
    * per partition/day and merged at read time.
    */
  def q41ApproxDistinct(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    events(spark, dir)
      .select(col("event_type"), Kmv.hash60(col("user_id")).as("h"))
      .distinct()
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("nu"), Kmv.sketch(col("h")).as("sk"))
      .select(col("event_type"),
        col("nu").as("exact_users"),
        Kmv.estimate(col("nu"), Kmv.kth(col("sk"))).as("approx_users"))
      .orderBy(col("event_type"))
  }

  /** Quantity bands for the range join (inclusive lo, exclusive hi). */
  private val qtyBands: Seq[(String, Int, Int)] = Seq(
    ("b0_10", 0, 10), ("b10_20", 10, 20), ("b20_30", 20, 30),
    ("b30_40", 30, 40), ("b40_plus", 40, 1000000))

  /** Range (non-equi) join (SURVEY J3): lineitem banded by quantity range
    * against a broadcast band table — planned as BroadcastNestedLoopJoin,
    * the right shape when one side is tiny; at scale the equivalent rewrite
    * is a CASE projection (no join), which the oracle uses.
    */
  def q42RangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val bands = spark.createDataFrame(qtyBands).toDF("band", "lo", "hi")
    t(spark, dir, "lineitem")
      .join(broadcast(bands),
        col("l_quantity") >= col("lo") && col("l_quantity") < col("hi"))
      .groupBy(col("band"))
      .agg(count(lit(1)).as("n_items"), revenue.as("revenue"))
      .orderBy(col("band"))
  }

  /** Distribution window functions (SURVEY W2): percent_rank / cume_dist /
    * ntile over a ties-free ordering (unique orderkey tie-break makes every
    * rank fraction an exact rational, identical across engines).
    */
  def q26WindowDistribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_orderpriority"))
      .orderBy(col("o_totalprice"), col("o_orderkey"))
    t(spark, dir, "orders")
      .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        ntile(4).over(w).cast("long").as("quartile"))
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
  }

  /** Exact percentiles (SURVEY A3): median + interpolated p90 per group.
    * Rounded to 4 decimals on both sides — Spark computes a + t*(b-a),
    * DuckDB (1-t)*a + t*b; algebraically equal, 1-ulp apart in floating
    * point, identical after rounding.
    */
  def q27Percentiles(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"))
      .agg(
        round(expr("median(l_quantity)"), 4).as("med_qty"),
        round(expr("percentile(l_extendedprice, 0.9)"), 4).as("p90_price"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"))

  private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

  /** PIVOT (SURVEY A3): daily event counts pivoted to one column per event
    * type (explicit value list keeps the schema static and oracle-stable).
    */
  def q43Pivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day_us", expr("ts_us - pmod(ts_us, 86400000000L)"))
      .groupBy(col("day_us"))
      .pivot(col("event_type"), eventTypes)
      .agg(count(lit(1)))
      .na.fill(0L, eventTypes)
      .orderBy(col("day_us"))

  /** Full outer join (SURVEY J3 completion — both sides can dangle):
    * positive-balance customers vs big orders. Customers with no big order
    * and big orders whose customer fails the balance filter both survive
    * with nulls; the group key coalesces the two sides. Same scale shape
    * as any equi join — shuffle on custkey, AQE picks the strategy.
    */
  def q61OuterJoin(spark: SparkSession, dir: String): DataFrame = {
    val c = t(spark, dir, "customer").filter(col("c_acctbal") > 0)
      .select(col("c_custkey"), col("c_nationkey"))
    val o = t(spark, dir, "orders").filter(col("o_totalprice") > 150000)
      .select(col("o_custkey"), col("o_totalprice"))
    c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
      .groupBy(coalesce(col("c_nationkey"), lit(-1L)).as("nationkey"))
      .agg(count(col("c_custkey")).as("n_cust_rows"),
        count(col("o_custkey")).as("n_big_orders"),
        dsum(col("o_totalprice")).as("revenue"))
      .orderBy(col("nationkey"))
  }

  /** Explicit GROUPING SETS (SURVEY A3 completion beyond rollup/cube):
    * the three-level retail report — (flag, status), (flag), () — without
    * computing the unwanted (status)-only set a cube would add. Spark
    * plans one Expand + single hash agg; placeholders make the set
    * structure visible without grouping_id (engine-portable).
    */
  def q62GroupingSets(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupingSets(
        Seq(Seq(col("l_returnflag"), col("l_linestatus")),
          Seq(col("l_returnflag")), Seq()),
        col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .select(coalesce(col("l_returnflag"), lit("ALL")).as("flag"),
        coalesce(col("l_linestatus"), lit("ALL")).as("status"),
        col("n"), col("sum_qty"))
      .orderBy(col("flag"), col("status"))

  /** TPC-H Q14-style promo share (completes table coverage: `part`): the
    * CASE-guarded decimal ratio over a lineitem⋈part join. `part` is a
    * dimension — broadcast; at 100 TB the month filter prunes the fact
    * scan before the join.
    */
  def q63PromoRevenue(spark: SparkSession, dir: String): DataFrame = {
    val li = t(spark, dir, "lineitem")
      .filter(col("l_shipdate") >= lit("1997-06-01").cast("timestamp") &&
        col("l_shipdate") < lit("1997-07-01").cast("timestamp"))
    val p = t(spark, dir, "part")
    val rev = col("l_extendedprice").cast("decimal(18,2)") *
      (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)"))
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .agg(
        sum(when(col("p_type").startsWith("PROMO"), rev)
          .otherwise(lit(0).cast("decimal(18,2)"))).as("promo"),
        sum(rev).as("total"))
      .select(round(lit(100.0) * col("promo").cast("double") /
          col("total").cast("double"), 4).as("promo_pct"),
        col("promo").cast("double").as("promo_revenue"),
        col("total").cast("double").as("total_revenue"))
  }

  /** Supplier league table (completes table coverage: `supplier`):
    * per-nation top suppliers by shipped revenue — fact-side aggregation
    * FIRST (shrinks lineitem to one row per suppkey), then the tiny
    * result joins the broadcast supplier/nation dims.
    *
    * The per-nation ranking is the mergeable `top_k_by` aggregate (as in
    * q55/q75), NOT a row_number window: partitionBy(n_name) would put each
    * nation's full supplier list (∝ SF/25) on one reducer — partials now
    * carry <= 3 entries per nation across the shuffle. The top-k KEY is
    * revenue in exact 1e-4 units (the decimal sum's own scale, so the
    * BIGINT is lossless) — overflow of that cast (revenue >= ~9.2e14)
    * raises instead of nulling, because TopKBy skips null keys and the
    * LARGEST supplier would silently vanish. The VALUE string carries
    * (zero-padded suppkey | item count | name) — name LAST and re-parsed
    * with a split LIMIT, so a '|' inside a supplier name cannot shift
    * fields; zero-padded suppkey first keeps value-ASC tie-break identical
    * to the oracle's `ORDER BY revenue DESC, s_suppkey`.
    */
  def q64SupplierRank(spark: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val rev = t(spark, dir, "lineitem")
      .groupBy(col("l_suppkey"))
      .agg(sum(col("l_extendedprice").cast("decimal(18,2)") *
          (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .as("rev_d"),
        count(lit(1)).as("n_items"))
    val s = t(spark, dir, "supplier")
    val n = t(spark, dir, "nation")
    rev.join(broadcast(s), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(n), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(expr(
        """top_k_by(
          |  concat(lpad(cast(s_suppkey AS STRING), 12, '0'), '|',
          |         cast(n_items AS STRING), '|', s_name),
          |  coalesce(cast(rev_d * 10000 AS BIGINT),
          |           cast(raise_error('q64: revenue overflows BIGINT 1e-4 units') AS BIGINT)),
          |  3)""".stripMargin).as("top"))
      .select(col("n_name"), posexplode(col("top")).as(Seq("pos", "e")))
      .select(col("n_name"), (col("pos") + 1).cast("long").as("rnk"),
        split(col("e.v"), "\\|", 3).as("f"), col("e.c").as("units"))
      .select(col("n_name"), col("rnk"),
        col("f").getItem(0).cast("long").as("s_suppkey"),
        col("f").getItem(2).as("s_name"),
        round(col("units").cast("double") / 10000.0, 2).as("revenue"),
        col("f").getItem(1).cast("long").as("n_items"))
      .orderBy(col("n_name"), col("rnk"))
  }

  // --------------------------------------------------------------------
  // DuckDB oracles (identical column names + ordering)
  // --------------------------------------------------------------------

  /** Shared SQL fragments for the oracles. */
  private val revSql =
    "CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)"

  val oracles: Map[String, String] = Map(
    "q01_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
        |  $revSql AS sum_disc_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-01'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q02_filter_topk" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        |FROM lineitem
        |WHERE l_quantity >= 45 AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber
        |LIMIT 100""".stripMargin,

    "q03_join_agg" ->
      s"""SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  $revSql AS revenue
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |WHERE c_mktsegment = 'BUILDING'
        |  AND o_orderdate < TIMESTAMP '1998-01-01'
        |  AND l_shipdate > TIMESTAMP '1997-01-01'
        |GROUP BY o_orderkey, o_orderdate
        |ORDER BY revenue DESC, o_orderkey
        |LIMIT 10""".stripMargin,

    "q04_join_multiway" ->
      s"""SELECT r_name, n_name, $revSql AS revenue, count(*) AS n_items
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE r_name IN ('ASIA','EUROPE') AND year(o_orderdate) = 1996
        |GROUP BY r_name, n_name
        |ORDER BY r_name, n_name""".stripMargin,

    "q05_semi_anti" ->
      """WITH w AS (
        |  SELECT c_mktsegment, c_custkey,
        |    EXISTS(SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey) AS has_o
        |  FROM customer c)
        |SELECT c_mktsegment,
        |  CAST(sum(CASE WHEN has_o THEN 1 ELSE 0 END) AS BIGINT) AS n_with_orders,
        |  CAST(sum(CASE WHEN has_o THEN 0 ELSE 1 END) AS BIGINT) AS n_no_orders
        |FROM w GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    "q06_window_topn" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) WHERE rn <= 3
        |ORDER BY o_custkey, rn""".stripMargin,

    "q07_window_analytic" ->
      """SELECT o_custkey, o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS order_date,
        |  o_totalprice,
        |  lag(o_totalprice) OVER w AS prev_price,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS run_total
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,

    "q08_agg_rollup" ->
      """SELECT coalesce(o_orderpriority, 'ALL') AS o_orderpriority,
        |  coalesce(o_orderstatus, 'ALL') AS o_orderstatus,
        |  count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM orders
        |GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
        |ORDER BY o_orderpriority, o_orderstatus""".stripMargin,

    "q09_agg_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
        |  coalesce(l_linestatus, 'ALL') AS l_linestatus,
        |  count(*) AS n_items,
        |  CAST(sum(l_quantity) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE (l_returnflag, l_linestatus)
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,

    "q10_distinct_agg" ->
      """SELECT l_returnflag,
        |  count(DISTINCT l_partkey) AS n_parts,
        |  count(DISTINCT l_suppkey) AS n_supps,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q11_set_ops" ->
      """WITH a AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1995),
        |     b AS (SELECT DISTINCT o_custkey FROM orders WHERE year(o_orderdate)=1996)
        |SELECT 'both' AS tag, o_custkey FROM (SELECT o_custkey FROM a INTERSECT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1995' AS tag, o_custkey FROM (SELECT o_custkey FROM a EXCEPT SELECT o_custkey FROM b)
        |UNION ALL
        |SELECT 'only_1996' AS tag, o_custkey FROM (SELECT o_custkey FROM b EXCEPT SELECT o_custkey FROM a)
        |ORDER BY tag, o_custkey""".stripMargin,

    "q12_scalar_subquery" ->
      """WITH avgq AS (
        |  SELECT l_partkey AS a_partkey,
        |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_qty
        |  FROM lineitem GROUP BY l_partkey)
        |SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_size < 20
        |JOIN avgq ON l_partkey = a_partkey
        |WHERE l_quantity < 0.5 * avg_qty""".stripMargin,

    "q13_conditional_agg" ->
      """SELECT l_returnflag,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_priority,
        |  CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 0 ELSE 1 END) AS BIGINT) AS low_priority
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q14_json" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q15_tumbling_window" ->
      """SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS bucket_us,
        |  count(*) AS n_events,
        |  count(DISTINCT user_id) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY 1 ORDER BY bucket_us""".stripMargin,

    "q44_sliding_window" ->
      """WITH e AS (SELECT epoch_us(ts) AS ts_us, value FROM events),
        |w AS (
        |  SELECT (ts_us // 86400000000) * 86400000000 AS bucket_us, value FROM e
        |  UNION ALL
        |  SELECT (ts_us // 86400000000) * 86400000000 - 86400000000 AS bucket_us, value FROM e)
        |SELECT bucket_us, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM w GROUP BY bucket_us ORDER BY bucket_us""".stripMargin,

    "q16_session_window" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us FROM events),
        |marked AS (
        |  SELECT user_id, ts_us,
        |    CASE WHEN ts_us - lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us)
        |              >= 1800000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sess AS (
        |  SELECT user_id, ts_us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM marked)
        |SELECT user_id, min(ts_us) AS session_start_us,
        |  count(*) AS n_events, max(ts_us) - min(ts_us) AS span_us
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, session_start_us""".stripMargin,

    "q17_cdc_latest_per_key" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_value, epoch_us(ts) AS last_ts_us
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY epoch_us(ts) DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "q18_cdc_fold" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // the composite-key fold: latest event per (user, type) tuple, the
    // 'error' type tombstoning only its own key — q18's model with a
    // two-column window partition, served through the MOR mirror whose
    // buckets hash the full tuple
    "q210_mor_composite_mirror" ->
      """SELECT user_id, event_type, event_id AS last_event_id,
        |  value AS last_value
        |FROM (SELECT *, row_number() OVER (
        |        PARTITION BY user_id, event_type
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id, event_type""".stripMargin,

    "q164_mirror_changelog" ->
      """WITH o AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |             ORDER BY event_id DESC) AS rn
        |    FROM events
        |    WHERE event_id <= (SELECT max(event_id) // 2 FROM events))
        |  WHERE rn = 1 AND event_type <> 'error'),
        |n AS (
        |  SELECT user_id, event_id, event_type, value FROM (
        |    SELECT *, row_number() OVER (PARTITION BY user_id
        |             ORDER BY event_id DESC) AS rn FROM events)
        |  WHERE rn = 1 AND event_type <> 'error'),
        |j AS (
        |  SELECT coalesce(o.user_id, n.user_id) AS user_id,
        |    o.user_id IS NOT NULL AS has_o, n.user_id IS NOT NULL AS has_n,
        |    o.event_id AS o_eid, o.event_type AS o_et, o.value AS o_v,
        |    n.event_id AS n_eid, n.event_type AS n_et, n.value AS n_v
        |  FROM o FULL OUTER JOIN n ON o.user_id = n.user_id),
        |changed AS (
        |  SELECT * FROM j WHERE has_o AND has_n AND
        |    (o_eid IS DISTINCT FROM n_eid OR o_et IS DISTINCT FROM n_et
        |     OR o_v IS DISTINCT FROM n_v))
        |SELECT user_id, n_eid AS event_id, n_et AS event_type, n_v AS value,
        |       'insert' AS _change_type FROM j WHERE NOT has_o
        |UNION ALL SELECT user_id, o_eid, o_et, o_v, 'delete' FROM j WHERE NOT has_n
        |UNION ALL SELECT user_id, o_eid, o_et, o_v, 'update_before' FROM changed
        |UNION ALL SELECT user_id, n_eid, n_et, n_v, 'update_after' FROM changed
        |ORDER BY user_id, _change_type""".stripMargin,

    // the snapshot-seed + late-changes merge answers the SAME question as
    // q18's one-shot fold — with the seed's op column all-null, pinning
    // the null-op coalescing under the permanent gate
    "q173_mixed_seed_fold" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // Q2 shape: the correlated min decorrelated; DuckDB recomputes the
    // per-part min as a window and keeps all tie-achieving suppliers
    "q178_min_cost_supplier" ->
      """WITH eu AS (SELECT n_nationkey, n_name FROM nation
        |    JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'EUROPE'),
        |se AS (SELECT s_suppkey, s_name, s_acctbal, n_name
        |    FROM supplier JOIN eu ON s_nationkey = n_nationkey),
        |cost AS (SELECT l_partkey, l_suppkey,
        |      min(l_extendedprice / l_quantity) AS supp_cost
        |    FROM lineitem WHERE l_suppkey IN (SELECT s_suppkey FROM se)
        |    GROUP BY 1, 2),
        |m AS (SELECT *, min(supp_cost) OVER (PARTITION BY l_partkey) AS min_cost
        |    FROM cost)
        |SELECT s_acctbal, s_name, n_name, p_partkey, p_name, min_cost
        |FROM m JOIN se ON l_suppkey = s_suppkey
        |  JOIN part ON l_partkey = p_partkey
        |WHERE supp_cost = min_cost
        |ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""".stripMargin,

    // Q6 shape: three pushed predicates, one decimal aggregate
    "q179_revenue_change" ->
      """SELECT CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem
        |WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_shipdate < TIMESTAMP '1997-01-01'
        |  AND l_discount >= 0.05 AND l_discount <= 0.07
        |  AND l_quantity < 24""".stripMargin,

    // Q9 shape: 5-way join, year extraction, decimal profit
    "q180_product_profit" ->
      """SELECT n_name AS nation, year(o_orderdate) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |    * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |    AS DOUBLE) AS profit
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_name LIKE '%widget%'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1, 2 ORDER BY nation, o_year DESC""".stripMargin,

    // Q10 shape: quarter of returned items, revenue-ranked customers
    "q181_returned_revenue" ->
      """WITH q AS (SELECT o_orderkey, o_custkey FROM orders
        |    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |      AND o_orderdate < TIMESTAMP '1996-04-01'),
        |pc AS (SELECT o_custkey,
        |      CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))
        |        * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |        AS DOUBLE) AS revenue
        |    FROM lineitem JOIN q ON l_orderkey = o_orderkey
        |    WHERE l_returnflag = 'R' GROUP BY 1)
        |SELECT c_custkey, c_name, revenue, c_acctbal, n_name
        |FROM pc JOIN customer ON o_custkey = c_custkey
        |  JOIN nation ON c_nationkey = n_nationkey
        |ORDER BY revenue DESC, c_custkey LIMIT 20""".stripMargin,

    // Q11 shape: group totals kept above a fraction of the global total
    "q182_important_parts" ->
      """WITH v AS (SELECT l_partkey,
        |      sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS pv
        |    FROM lineitem GROUP BY 1),
        |t AS (SELECT sum(pv) AS tv FROM v)
        |SELECT l_partkey, CAST(pv AS DOUBLE) AS part_value
        |FROM v, t
        |WHERE CAST(pv AS DOUBLE) > CAST(tv AS DOUBLE) * 0.0002
        |ORDER BY part_value DESC, l_partkey""".stripMargin,

    // Q16 shape: distinct-supplier census with a NOT IN exclusion
    "q183_supplier_diversity" ->
      """SELECT p_brand, p_type, p_size,
        |  count(DISTINCT l_suppkey) AS supplier_cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE l_suppkey NOT IN
        |  (SELECT s_suppkey FROM supplier WHERE s_acctbal < 1000)
        |GROUP BY 1, 2, 3
        |ORDER BY supplier_cnt DESC, p_brand, p_type, p_size""".stripMargin,

    // Q20 shape: semi-join chain with an exact-decimal half-vs-total gate
    "q184_front_loaded_suppliers" ->
      """WITH q AS (
        |  SELECT l_suppkey, l_partkey,
        |    sum(CAST(l_quantity AS DECIMAL(18,2))) AS total_qty,
        |    sum(CASE WHEN l_shipdate < TIMESTAMP '1997-07-01'
        |        THEN CAST(l_quantity AS DECIMAL(18,2))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS h1_qty
        |  FROM lineitem
        |  WHERE l_partkey IN (SELECT p_partkey FROM part
        |        WHERE p_name LIKE '%bolt%')
        |    AND l_shipdate >= TIMESTAMP '1997-01-01'
        |    AND l_shipdate < TIMESTAMP '1998-01-01'
        |  GROUP BY 1, 2)
        |SELECT s_name, s_acctbal, n_name
        |FROM supplier JOIN nation ON s_nationkey = n_nationkey
        |WHERE s_suppkey IN (SELECT l_suppkey FROM q WHERE h1_qty * 2 > total_qty)
        |ORDER BY s_name""".stripMargin,

    // z-clustered rewrite + zone-map file pruning must never change
    // results: the oracle is the plain filter+aggregate on the source
    "q185_cluster_zonemap" ->
      """SELECT l_suppkey, count(*) AS n_items,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_partkey BETWEEN 40 AND 90 AND l_suppkey BETWEEN 2 AND 5
        |GROUP BY 1 ORDER BY l_suppkey""".stripMargin,

    // manifest-bloom point lookup == the plain IN-list filter
    "q187_bloom_lookup" ->
      """SELECT o_orderkey, o_orderpriority,
        |  CAST(o_totalprice AS DECIMAL(18,2)) AS price
        |FROM orders
        |WHERE o_orderkey IN (7, 1313, 4033)
        |ORDER BY o_orderkey""".stripMargin,

    // date-range scan over the date-clustered table == plain year filter
    "q186_date_cluster_scan" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate <= TIMESTAMP '1996-12-31 23:59:59'
        |GROUP BY 1 ORDER BY o_orderpriority""".stripMargin,

    // the catalog's two VERSION AS OF snapshot reads must equal the
    // deterministic predicates that defined those snapshots
    "q190_catalog_time_travel" ->
      """SELECT 'v1' AS snap, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        |UNION ALL
        |SELECT 'v2' AS snap, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY snap, event_type""".stripMargin,

    // the MERGE INTO copy-on-write rewrite must equal the oracle's
    // predicate algebra for kept / updated / inserted / deleted rows
    "q192_merge_into_lifecycle" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(v AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM (
        |  SELECT event_type, value AS v FROM events
        |  WHERE event_id % 2 = 0 AND event_id % 3 <> 0
        |  UNION ALL
        |  SELECT event_type, value * 2 FROM events
        |  WHERE event_id % 2 = 0 AND event_id % 3 = 0 AND event_id % 10 <> 0
        |  UNION ALL
        |  SELECT event_type, value * 2 FROM events
        |  WHERE event_id % 2 = 1 AND event_id % 3 = 0
        |) GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the CTAS+INSERT+DELETE snapshot chain must compose to the same
    // predicate algebra the oracle evaluates directly
    "q191_sql_write_lifecycle" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE (event_id % 2 = 0 OR (event_id % 2 = 1 AND event_id % 3 = 0))
        |  AND event_id NOT BETWEEN 1000 AND 2999
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the day-partitioned layout + time-bounded pruned replay must equal
    // the plain time-range aggregate on the un-partitioned source
    "q189_time_partitioned_replay" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 23:59:59'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // three manifest-credited interval counts must be EXACT vs the plain
    // filtered counts (containment proven from stats, never sampled)
    "q194_count_fast_oracle" ->
      """SELECT 'boundary' AS probe,
        |  (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 3 AND 17) AS n_rows
        |UNION ALL
        |SELECT 'contained',
        |  (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 10 AND 40)
        |UNION ALL
        |SELECT 'empty',
        |  (SELECT count(*) FROM lineitem WHERE l_quantity BETWEEN 900 AND 999)
        |ORDER BY probe""".stripMargin,

    // the catalog SQL read of the SAME layout, filtered only on the time
    // column (hidden partitioning: the user never names p_day)
    "q193_sql_hidden_day_filter" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
        |  AND ts <= TIMESTAMP '2024-01-20 23:59:59'
        |GROUP BY 1 ORDER BY event_type""".stripMargin,

    // the streamed-through-catalog mirror must equal the plain aggregate
    // over the whole source: file-stream tailing, epoch snapshot commits
    // and the batch read-back compose to an identity
    // the mirror is every event from the pre-evolution epochs (NULL for
    // the added column) plus the post-evolution correction feed (every
    // click, re-ingested with the column set) — count(src_parity) per
    // group proves exactly the evolved epoch carries it
    "q195_catalog_streaming" ->
      """WITH mirror AS MATERIALIZED (
        |  SELECT event_type, value, NULL AS src_parity FROM events
        |  UNION ALL
        |  SELECT event_type, value, 1 AS src_parity FROM events
        |  WHERE event_type = 'click')
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  count(src_parity) AS n_evolved
        |FROM mirror
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // after the rollback the PLAIN read serves exactly the clean half;
    // the bad snapshot's full row count stays readable as history
    "q196_rollback" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT count(*) FROM events) AS n_bad_retained
        |FROM events
        |WHERE event_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the tagged snapshot (pinned past the retention window by the tag
    // alone) must equal the clean-subset aggregate; the current state
    // (the last churn overwrite) rides in the same statement
    "q198_tags" ->
      """SELECT 'tagged' AS snap, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events WHERE event_id % 2 = 0 GROUP BY event_type
        |UNION ALL
        |SELECT 'current', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |FROM events WHERE event_id % 3 = 2 GROUP BY event_type
        |ORDER BY snap, event_type""".stripMargin,

    // the ADDed column (COW NULL rewrite + partial UPDATE backfill) must
    // equal a CASE model over the raw rows; the pre-ALTER snapshot's
    // count pins the retained history
    "q199_add_column" ->
      """SELECT event_type, count(*) AS n_events,
        |  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_flagged,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS n_pre_alter
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the whole lifecycle (append -> cluster -> MERGE -> rollback) on
    // the object-store primitive set: the merged snapshot (history) is
    // the CASE model, the rolled-back current state the plain aggregate
    "q200_objectstore_lifecycle" ->
      """SELECT 'merged' AS snap, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(CASE WHEN event_type = 'click' THEN value * 2
        |                     ELSE value END AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
        |UNION ALL
        |SELECT 'current', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |FROM events WHERE event_id % 3 = 0 GROUP BY event_type
        |ORDER BY snap, event_type""".stripMargin,

    // the metadata-only int->bigint promotion + the wide insert must
    // equal one plain mixed-arithmetic aggregate over the raw rows; the
    // pre-promotion snapshot's count pins history
    "q201_type_widening" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CASE WHEN event_id % 2 = 0
        |                THEN CAST(FLOOR(value * 100) AS BIGINT)
        |                ELSE CAST(FLOOR(value * 100) AS BIGINT) + 3000000000
        |           END) AS BIGINT) AS total_cents,
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0) AS n_pre_widen
        |FROM events
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // stacked merge-on-read deletes + the re-inserted keys (census rule)
    // reduce to one closed-form model over the raw rows: the even half
    // minus clicks minus views, plus the clicks back as 'restored' —
    // identical for the pending (sidecar-filtered) and folded phases
    "q202_mor_delete" ->
      """WITH finalv AS MATERIALIZED (
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 2 = 0 AND event_type NOT IN ('click', 'view')
        |  UNION ALL
        |  SELECT 'restored' AS event_type, value FROM events
        |  WHERE event_id % 2 = 0 AND event_type = 'click')
        |SELECT 'folded' AS phase, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |    AS n_pre_delete
        |FROM finalv GROUP BY event_type
        |UNION ALL
        |SELECT 'pending', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |FROM finalv GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,

    // the delta UPDATE (clicks doubled) + delta MERGE (views +10,
    // odd errors inserted) reduce to one closed-form model — identical
    // for the pending (stacked-sidecar scan) and folded phases
    "q204_mor_update_merge" ->
      """WITH finalv AS MATERIALIZED (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'click' THEN value * 2
        |         WHEN event_type = 'view' THEN value + 10
        |         ELSE value END AS value
        |  FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 2 = 1 AND event_type = 'error')
        |SELECT 'folded' AS phase, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |    AS n_pre_rewrite
        |FROM finalv GROUP BY event_type
        |UNION ALL
        |SELECT 'pending', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |FROM finalv GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,

    // the COMPOSITE-key MOR lifecycle reduces to one closed-form model:
    // the orderkey%4==0 slice minus its 'R' lines (tuple-keyed sidecar),
    // 'N' lines +100 (delta MERGE matched), the orderkey%8==0 'R' lines
    // back as 'X' +1000 (re-insert outside the census), plus the
    // orderkey%40==2 slice (MERGE inserts, trimmed per the r17 verdict's
    // headroom note) — identical for the pending
    // (stacked tuple-sidecar scan) and folded phases
    "q207_mor_composite_key" ->
      """WITH seed AS MATERIALIZED (
        |  SELECT l_orderkey, l_linenumber, min(l_quantity) AS l_quantity,
        |    min(l_returnflag) AS l_returnflag
        |  FROM lineitem WHERE l_orderkey % 8 = 0 GROUP BY 1, 2),
        |ins AS MATERIALIZED (
        |  SELECT min(l_quantity) AS l_quantity,
        |    min(l_returnflag) AS l_returnflag
        |  FROM lineitem WHERE l_orderkey % 40 = 2
        |  GROUP BY l_orderkey, l_linenumber),
        |finalv AS MATERIALIZED (
        |  SELECT l_returnflag,
        |    l_quantity + CASE WHEN l_returnflag = 'N' THEN 100 ELSE 0 END
        |      AS l_quantity
        |  FROM seed WHERE l_returnflag <> 'R'
        |  UNION ALL
        |  SELECT 'X' AS l_returnflag, l_quantity + 1000 FROM seed
        |  WHERE l_orderkey % 16 = 0 AND l_returnflag = 'R'
        |  UNION ALL
        |  SELECT l_returnflag, l_quantity FROM ins)
        |SELECT 'folded' AS phase, l_returnflag, count(*) AS n_rows,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_qty,
        |  (SELECT count(*) FROM seed) AS n_pre_delete
        |FROM finalv GROUP BY l_returnflag
        |UNION ALL
        |SELECT 'pending', l_returnflag, count(*),
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE),
        |  (SELECT count(*) FROM seed)
        |FROM finalv GROUP BY l_returnflag
        |ORDER BY phase, l_returnflag""".stripMargin,

    // two stacked POSITIONAL deletes (clicks, then views — the seed
    // NULLs every tenth event id, so equality sidecars cannot carry the
    // match) reduce to plain predicate algebra — identical for the
    // pending (per-task ordinal probe) and folded phases; the per-type
    // counts prove the NULL-key rows deleted with their types
    "q208_positional_delete" ->
      """WITH finalv AS MATERIALIZED (
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 2 = 0 AND event_type NOT IN ('click', 'view'))
        |SELECT 'folded' AS phase, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |    AS n_pre_delete
        |FROM finalv GROUP BY event_type
        |UNION ALL
        |SELECT 'pending', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |FROM finalv GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,

    // deltas stacked over positional tombstones reduce to ONE model
    // applied to both phases: evens minus clicks (the NULLed keys were
    // all clicks), views +50 (delta UPDATE), purchases doubled (delta
    // MERGE matched arm), plus the odd errors the MERGE inserted
    "q211_delta_over_positional" ->
      """WITH finalv AS MATERIALIZED (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'view' THEN value + 50
        |         WHEN event_type = 'purchase' THEN value * 2
        |         ELSE value END AS value
        |  FROM events
        |  WHERE event_id % 2 = 0 AND event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 2 = 1 AND event_type = 'error')
        |SELECT 'folded' AS phase, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM finalv GROUP BY event_type
        |UNION ALL
        |SELECT 'pending', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |FROM finalv GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,

    // the history metadata table's lineage is fully closed-form: the
    // append-only roll-forward design makes every (version, parent,
    // operation) row derivable by hand from the staged lifecycle
    "q213_metadata_history" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), CAST(NULL AS BIGINT), 'commit', false,
        |    (SELECT count(*) FROM events WHERE event_id % 4 = 0)),
        |  (2, 1, 'commit', false,
        |    (SELECT count(*) FROM events WHERE event_id % 4 = 0)),
        |  (3, 2, 'commit', false,
        |    (SELECT count(*) FROM events WHERE event_id % 4 = 0)),
        |  (4, 3, 'rollback(v1)', false,
        |    (SELECT count(*) FROM events WHERE event_id % 4 = 0)),
        |  (5, 4, 'fast_forward(fix)', true,
        |    (SELECT count(*) FROM events WHERE event_id % 4 = 0)))
        |  AS t(version, parent, operation, is_current, n_at_rollback)
        |ORDER BY version""".stripMargin,

    // the partitions metadata table's census == the relational census:
    // per-UTC-day row counts of the seeded slice
    "q214_metadata_partitions" ->
      """SELECT 'p_day=' || strftime(ts, '%Y-%m-%d') AS partition,
        |  count(*) AS record_count
        |FROM events WHERE event_id % 2 = 0
        |GROUP BY 1 ORDER BY partition""".stripMargin,

    // the spliced z-order table reduces to a closed-form union (seed
    // evens + the odd errors strictly inside the seeded ranges) with
    // the SAME floor-div box arithmetic the Spark side derives — the
    // incremental path itself is REQUIREd physically in the query
    "q215_zorder_incremental" ->
      """WITH ev AS (SELECT event_id, event_type, user_id,
        |    epoch_us(ts) AS ts_us, value FROM events),
        |seed AS MATERIALIZED (
        |  SELECT event_type, user_id, ts_us, value FROM ev
        |  WHERE event_id % 2 = 0),
        |b AS (SELECT min(user_id) AS ulo, max(user_id) AS uhi,
        |        min(ts_us) AS tlo, max(ts_us) AS thi FROM seed),
        |merged AS (
        |  SELECT * FROM seed
        |  UNION ALL
        |  SELECT event_type, user_id, ts_us, value FROM ev, b
        |  WHERE event_id % 2 = 1 AND event_type = 'error'
        |    AND user_id > ulo + (uhi - ulo) // 3
        |    AND user_id < ulo + (uhi - ulo) * 2 // 5
        |    AND ts_us > tlo + (thi - tlo) // 3
        |    AND ts_us < tlo + (thi - tlo) * 2 // 5)
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM merged, b
        |WHERE user_id BETWEEN ulo + (uhi - ulo) // 4
        |                  AND ulo + (uhi - ulo) // 2
        |  AND ts_us BETWEEN tlo + (thi - tlo) // 4
        |                AND tlo + (thi - tlo) // 2
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the consumer-lag view is fully closed-form: versions and hop
    // numbers derive by hand from the staged lifecycle (emit at v1 =
    // cursor only; two commits; emit = hops batch_2 + batch_3)
    "q216_feed_consumers" ->
      """SELECT * FROM (VALUES
        |  ('audit', CAST(3 AS BIGINT), CAST(0 AS BIGINT), false),
        |  ('etl', CAST(1 AS BIGINT), CAST(2 AS BIGINT), true))
        |  AS t(consumer, cursor, hops_behind, blocking_retention)
        |ORDER BY consumer""".stripMargin,

    // the auto-advanced consumer lands exactly at the emission cursor
    // (v3) with zero lag; the manual laggard mirrors q216; the absorbed
    // census is the two hops' insert rows (unchanged keys emit nothing)
    "q218_auto_consumer" ->
      """SELECT * FROM (VALUES
        |  ('etl', CAST(1 AS BIGINT), CAST(2 AS BIGINT), true,
        |    CAST(NULL AS BIGINT)),
        |  ('tail', CAST(3 AS BIGINT), CAST(0 AS BIGINT), false,
        |    (SELECT count(*) FROM events WHERE event_id % 4 IN (1, 2))))
        |  AS t(consumer, cursor, hops_behind, blocking_retention,
        |       absorbed_rows)
        |ORDER BY consumer""".stripMargin,

    // the size-compacted table must serve exactly the source rows — the
    // pack/carry physics are REQUIREd in the harness, the content here
    "q219_size_compact" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // the view reads the CURRENT snapshot (the full staged table) — the
    // DDL physics are REQUIREd in the harness, the content here
    "q220_sql_view" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM events GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // age-based expiry's surviving lineage is closed-form: v2 (backdated,
    // untagged) expires; v1 (tag), v3 (young), v4 (current) survive with
    // their staged row counts
    "q217_age_expiry" ->
      """SELECT * FROM (VALUES
        |  (CAST(1 AS BIGINT), false,
        |    (SELECT count(*) FROM events WHERE event_id % 4 < 1)),
        |  (3, false,
        |    (SELECT count(*) FROM events WHERE event_id % 4 < 3)),
        |  (4, true,
        |    (SELECT count(*) FROM events WHERE event_id % 4 < 4)))
        |  AS t(version, is_current, n_rows)
        |ORDER BY version""".stripMargin,

    // the cherry-picked merge reduces to one closed-form union: main's
    // divergent DELETE (clicks gone) composed with the branch's staged
    // INSERT (odd errors) and UPDATE (views +100)
    "q212_cherrypick_diverged" ->
      """WITH merged AS MATERIALIZED (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'view' THEN value + 100
        |         ELSE value END AS value
        |  FROM events
        |  WHERE event_id % 2 = 0 AND event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 2 = 1 AND event_type = 'error')
        |SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value
        |FROM merged GROUP BY event_type
        |ORDER BY event_type""".stripMargin,

    // the branch AUDIT changelog reduces to four closed-form slices of
    // the raw rows: inserts = the staged odd errors, deletes = main's
    // even clicks (original values), update_before/update_after = the
    // even views at value / value+100; main's pinned count rides along
    "q209_branch_audit_diff" ->
      """WITH d AS MATERIALIZED (
        |  SELECT 'insert' AS change_type, event_type, value FROM events
        |  WHERE event_id % 2 = 1 AND event_type = 'error'
        |  UNION ALL
        |  SELECT 'delete', event_type, value FROM events
        |  WHERE event_id % 2 = 0 AND event_type = 'click'
        |  UNION ALL
        |  SELECT 'update_before', event_type, value FROM events
        |  WHERE event_id % 2 = 0 AND event_type = 'view'
        |  UNION ALL
        |  SELECT 'update_after', event_type, value + 100 FROM events
        |  WHERE event_id % 2 = 0 AND event_type = 'view')
        |SELECT change_type, event_type, count(*) AS n_rows,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
        |    AS total_value,
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |    AS n_main_during_audit
        |FROM d GROUP BY change_type, event_type
        |ORDER BY change_type, event_type""".stripMargin,

    // the write-audit-publish lifecycle reduces to two models over the
    // raw rows: the staged phase (main's even half + the non-error odd
    // half, read through the branch) and the current phase (everything,
    // after one fast-forward CAS); main's pinned count rides both
    "q203_branch_wap" ->
      """WITH staged AS MATERIALIZED (
        |  SELECT event_type, value FROM events WHERE event_id % 2 = 0
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 2 = 1 AND event_type <> 'error')
        |SELECT 'current' AS phase, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |    AS n_main_during_audit
        |FROM events GROUP BY event_type
        |UNION ALL
        |SELECT 'staged', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |FROM staged GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,

    // branch-routed DML reduces to ONE model applied twice: the staged
    // audit (read through the branch while main is provably pinned at
    // the even half) and the published state (after one fast-forward
    // CAS + fold) are the SAME rows — (evens minus clicks, views +100)
    // plus the odd errors the MERGE inserted
    "q205_branch_dml" ->
      """WITH staged AS MATERIALIZED (
        |  SELECT event_type,
        |    CASE WHEN event_type = 'view' THEN value + 100
        |         ELSE value END AS value
        |  FROM events WHERE event_id % 2 = 0 AND event_type <> 'click'
        |  UNION ALL
        |  SELECT event_type, value FROM events
        |  WHERE event_id % 2 = 1 AND event_type = 'error')
        |SELECT 'current' AS phase, event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |    AS n_main_during_audit
        |FROM staged GROUP BY event_type
        |UNION ALL
        |SELECT 'staged', event_type, count(*),
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE),
        |  (SELECT count(*) FROM events WHERE event_id % 2 = 0)
        |FROM staged GROUP BY event_type
        |ORDER BY phase, event_type""".stripMargin,

    // the file-granular COW DELETE (carry census required in the Spark
    // harness) reduces to plain predicate algebra over the raw rows
    "q206_file_granular_delete" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
        |  (SELECT count(*) FROM events) AS n_pre_delete
        |FROM events
        |WHERE event_id NOT BETWEEN 1000 AND 2999
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the hour-grain layout + two-level hidden pruning must equal the
    // plain sub-day time-range aggregate on the un-partitioned source
    "q197_hour_grain" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM events
        |WHERE ts >= TIMESTAMP '2024-01-10 06:30:00'
        |  AND ts <= TIMESTAMP '2024-01-12 17:45:00'
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the two-schema-epoch fold (rename declared mid-history, score
    // widened int->bigint) answers the SAME question as the un-split
    // fold: the oracle sees one continuous history, so a renamed column
    // forking — or a width mismatch — hash-fails
    "q174_schema_evolution" ->
      """SELECT user_id, event_id AS last_event_id,
        |  event_type AS last_etype,
        |  CAST(event_id % 997 AS BIGINT) AS last_score
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    // the feed-maintained aggregate must equal a direct recompute over
    // the FINAL fold — any double-apply, missed hop, or tombstone-
    // visibility slip in the incremental path hash-fails
    "q177_feed_ivm" ->
      """WITH last AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rn FROM events)
        |  WHERE rn = 1 AND event_type <> 'error')
        |SELECT event_type, count(*) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM last GROUP BY 1 ORDER BY 1""".stripMargin,

    // the mirror's read-optimized projection answers the SAME fold as
    // q18/q163 through the derived chain (projection + zone-map read)
    "q188_mirror_projection" ->
      """WITH last AS (
        |  SELECT * FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |      ORDER BY event_id DESC) AS rn FROM events)
        |  WHERE rn = 1 AND event_type <> 'error')
        |SELECT event_type, count(*) AS n_users,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        |FROM last WHERE value BETWEEN 10.0 AND 60.0
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the merge-on-read lifecycle answers the SAME question as q18's
    // one-shot fold — one oracle, two engine paths cross-checking
    "q163_mor_mirror" ->
      """SELECT user_id, event_id AS last_event_id, event_type AS last_event_type,
        |  value AS last_value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY event_id DESC) AS rn FROM events)
        |WHERE rn = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,

    "q48_scd2_history" ->
      """SELECT user_id, event_id, event_type, value,
        |  epoch_us(ts) AS valid_from_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) AS valid_to_us,
        |  lead(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL AS is_current
        |FROM events WHERE user_id < 20
        |ORDER BY user_id, event_id""".stripMargin,

    "q19_asof_join" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  c.ts_us AS click_ts_us, c.value AS click_value,
        |  p.ts_us - c.ts_us AS gap_us
        |FROM p ASOF JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
        |ORDER BY p.event_id""".stripMargin,

    "q99_asof_custom" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  c.ts_us AS click_ts_us, c.value AS click_value,
        |  p.ts_us - c.ts_us AS gap_us
        |FROM p ASOF JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
        |ORDER BY p.event_id""".stripMargin,

    "q160_large_orders" ->
      """WITH s AS (SELECT l_orderkey, sum(l_quantity) AS total_qty
        |           FROM lineitem GROUP BY 1),
        |b AS (SELECT * FROM s WHERE total_qty > 300)
        |SELECT c.c_custkey, c.c_name, o.o_orderkey,
        |  CAST(o.o_orderdate AS DATE) AS o_date, b.total_qty
        |FROM b JOIN orders o ON b.l_orderkey = o.o_orderkey
        |     JOIN customer c ON o.o_custkey = c.c_custkey
        |ORDER BY total_qty DESC, o_orderkey LIMIT 100""".stripMargin,

    "q159_dormant_customers" ->
      """WITH thr AS (
        |  SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
        |    / count(*) AS thr
        |  FROM customer WHERE c_acctbal > 0),
        |cand AS (SELECT c.* FROM customer c, thr WHERE c.c_acctbal > thr.thr),
        |noord AS (SELECT * FROM cand
        |          WHERE NOT EXISTS (SELECT 1 FROM orders o
        |                            WHERE o.o_custkey = cand.c_custkey
        |                              AND o.o_orderdate >= TIMESTAMP '1999-01-01'))
        |SELECT CAST(c_nationkey AS BIGINT) AS nation, count(*) AS n_custs,
        |  CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
        |FROM noord GROUP BY 1 ORDER BY nation""".stripMargin,

    // the oracle runs the TEXTBOOK correlated Q21 form; the engine runs
    // the decorrelated per-order aggregate — each cross-checks the other
    "q165_blamed_supplier" ->
      """SELECT s_name, count(*) AS numwait
        |FROM supplier, lineitem l1, orders
        |WHERE s_suppkey = l1.l_suppkey AND o_orderkey = l1.l_orderkey
        |  AND o_orderstatus = 'F' AND l1.l_returnflag = 'R'
        |  AND EXISTS (SELECT 1 FROM lineitem l2
        |              WHERE l2.l_orderkey = l1.l_orderkey
        |                AND l2.l_suppkey <> l1.l_suppkey)
        |  AND NOT EXISTS (SELECT 1 FROM lineitem l3
        |                  WHERE l3.l_orderkey = l1.l_orderkey
        |                    AND l3.l_suppkey <> l1.l_suppkey
        |                    AND l3.l_returnflag = 'R')
        |GROUP BY s_name ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "q166_market_share" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CASE WHEN n_name = 'NATION_0'
        |        THEN CAST(l_extendedprice AS DECIMAL(18,2)) *
        |             (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
        |        ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
        |  / CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS mkt_share,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS total_rev
        |FROM lineitem
        |JOIN part ON l_partkey = p_partkey AND p_type = 'PROMO'
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1 ORDER BY o_year""".stripMargin,

    "q167_trade_volume" ->
      """SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS volume,
        |  count(*) AS n_lines
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation sn ON s_nationkey = sn.n_nationkey
        |JOIN orders ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation cn ON c_nationkey = cn.n_nationkey
        |WHERE sn.n_name IN ('NATION_0', 'NATION_1')
        |  AND cn.n_name IN ('NATION_0', 'NATION_1')
        |  AND sn.n_name <> cn.n_name
        |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    "q168_top_supplier" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |        (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
        |  FROM lineitem
        |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders
        |                       WHERE year(o_orderdate) = 1998)
        |  GROUP BY l_suppkey)
        |SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_rev
        |FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |WHERE total_rev = (SELECT max(total_rev) FROM rev)
        |ORDER BY s_suppkey""".stripMargin,

    "q169_disjunctive_revenue" ->
      """SELECT
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |       (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE)
        |    AS revenue,
        |  count(*) AS n_lines
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |WHERE (p_brand = 'Brand#11' AND l_quantity BETWEEN 1 AND 11
        |       AND p_size BETWEEN 1 AND 5)
        |   OR (p_brand = 'Brand#22' AND l_quantity BETWEEN 10 AND 20
        |       AND p_size BETWEEN 1 AND 10)
        |   OR (p_brand = 'Brand#33' AND l_quantity BETWEEN 20 AND 30
        |       AND p_size BETWEEN 1 AND 15)""".stripMargin,

    "q170_custdist" ->
      """SELECT c_count, count(*) AS custdist FROM (
        |  SELECT c_custkey, count(o_custkey) AS c_count
        |  FROM customer LEFT OUTER JOIN orders ON c_custkey = o_custkey
        |  GROUP BY c_custkey)
        |GROUP BY c_count ORDER BY custdist DESC, c_count DESC""".stripMargin,

    "q171_trailing_window" ->
      """SELECT o_custkey, o_orderkey,
        |  date_diff('day', DATE '1995-01-01', o_orderdate) AS epoch_day,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
        |    PARTITION BY o_custkey
        |    ORDER BY date_diff('day', DATE '1995-01-01', o_orderdate)
        |    RANGE BETWEEN 29 PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS trail30_total
        |FROM orders
        |ORDER BY o_custkey, epoch_day, o_orderkey""".stripMargin,

    "q172_priority_check" ->
      """SELECT o_orderpriority, count(*) AS order_count
        |FROM orders
        |WHERE EXISTS (SELECT 1 FROM lineitem
        |              WHERE l_orderkey = o_orderkey
        |                AND l_shipdate > o_orderdate)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    "q158_asof_tolerance" ->
      s"""WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  CASE WHEN p.ts_us - c.ts_us <= $AsofTolUs THEN c.ts_us END
        |    AS click_ts_us,
        |  CASE WHEN p.ts_us - c.ts_us <= $AsofTolUs THEN c.value END
        |    AS click_value,
        |  CASE WHEN p.ts_us - c.ts_us <= $AsofTolUs THEN p.ts_us - c.ts_us END
        |    AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
        |ORDER BY p.event_id""".stripMargin,

    "q101_asof_outer" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  c.ts_us AS click_ts_us, c.value AS click_value,
        |  p.ts_us - c.ts_us AS gap_us
        |FROM p ASOF LEFT JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us >= c.ts_us
        |ORDER BY p.event_id""".stripMargin,

    "q102_asof_multikey" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) // 86400000000 AS day,
        |                  epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
        |                  epoch_us(ts) AS ts_us, value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.day, p.ts_us,
        |  c.ts_us AS click_ts_us, c.value AS click_value,
        |  p.ts_us - c.ts_us AS gap_us
        |FROM p ASOF JOIN c
        |  ON p.user_id = c.user_id AND p.day = c.day AND p.ts_us >= c.ts_us
        |ORDER BY p.event_id""".stripMargin,

    "q103_asof_forward" ->
      """WITH p AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events
        |           WHERE event_type = 'purchase'),
        |     c AS (SELECT user_id, epoch_us(ts) AS ts_us, value FROM events
        |           WHERE event_type = 'click')
        |SELECT p.event_id, p.user_id, p.ts_us,
        |  c.ts_us AS next_click_ts_us, c.value AS next_click_value,
        |  c.ts_us - p.ts_us AS lead_us
        |FROM p ASOF JOIN c
        |  ON p.user_id = c.user_id AND p.ts_us <= c.ts_us
        |ORDER BY p.event_id""".stripMargin,

    "q26_window_distribution" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  percent_rank() OVER w AS pr,
        |  cume_dist() OVER w AS cd,
        |  CAST(ntile(4) OVER w AS BIGINT) AS quartile
        |FROM orders
        |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice, o_orderkey)
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,

    "q27_percentiles" ->
      """SELECT l_returnflag,
        |  round(median(l_quantity), 4) AS med_qty,
        |  round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
        |  count(*) AS n_items
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "q45_set_ops_all" ->
      """WITH a AS (SELECT o_custkey FROM orders WHERE year(o_orderdate)=1995),
        |     b AS (SELECT o_custkey FROM orders WHERE year(o_orderdate)=1996),
        |ea AS (SELECT o_custkey FROM a EXCEPT ALL SELECT o_custkey FROM b),
        |ia AS (SELECT o_custkey FROM a INTERSECT ALL SELECT o_custkey FROM b)
        |SELECT 'except_all' AS tag, o_custkey, count(*) AS n FROM ea GROUP BY o_custkey
        |UNION ALL
        |SELECT 'intersect_all' AS tag, o_custkey, count(*) AS n FROM ia GROUP BY o_custkey
        |ORDER BY tag, o_custkey""".stripMargin,

    "q46_array_agg" ->
      """SELECT c_nationkey,
        |  array_to_string(list_sort(list(c_custkey)), ',') AS custkeys,
        |  count(*) AS n
        |FROM customer WHERE c_acctbal > 9000
        |GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

    "q94_orphans" ->
      """SELECT 'docs_without_embedding' AS kind,
        |  (SELECT count(*) FROM documents d WHERE NOT EXISTS
        |    (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id)) AS n
        |UNION ALL SELECT 'embeddings_without_doc',
        |  (SELECT count(*) FROM embeddings e WHERE NOT EXISTS
        |    (SELECT 1 FROM documents d WHERE d.doc_id = e.vec_id))
        |UNION ALL SELECT 'matched',
        |  (SELECT count(*) FROM documents d WHERE EXISTS
        |    (SELECT 1 FROM embeddings e WHERE e.vec_id = d.doc_id))
        |ORDER BY kind""".stripMargin,

    "q93_profile" ->
      """SELECT 'l_quantity' AS column_name, count(l_quantity) AS n_nonnull,
        |  CAST(min(l_quantity) AS DOUBLE) AS min_v, CAST(max(l_quantity) AS DOUBLE) AS max_v,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_v FROM lineitem
        |UNION ALL SELECT 'l_extendedprice' AS column_name, count(l_extendedprice) AS n_nonnull,
        |  CAST(min(l_extendedprice) AS DOUBLE) AS min_v, CAST(max(l_extendedprice) AS DOUBLE) AS max_v,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_v FROM lineitem
        |UNION ALL SELECT 'l_discount' AS column_name, count(l_discount) AS n_nonnull,
        |  CAST(min(l_discount) AS DOUBLE) AS min_v, CAST(max(l_discount) AS DOUBLE) AS max_v,
        |  CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS sum_v FROM lineitem
        |UNION ALL SELECT 'l_tax' AS column_name, count(l_tax) AS n_nonnull,
        |  CAST(min(l_tax) AS DOUBLE) AS min_v, CAST(max(l_tax) AS DOUBLE) AS max_v,
        |  CAST(sum(CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS sum_v FROM lineitem
        |ORDER BY column_name""".stripMargin,

    "q47_unpivot" ->
      """WITH long AS (
        |  SELECT l_returnflag, 'l_quantity' AS metric, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_returnflag, 'l_tax', l_tax FROM lineitem)
        |SELECT l_returnflag, metric,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  count(*) AS n
        |FROM long GROUP BY l_returnflag, metric
        |ORDER BY l_returnflag, metric""".stripMargin,

    "q61_outer_join" ->
      """WITH c AS (SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 0),
        |o AS (SELECT o_custkey, o_totalprice FROM orders WHERE o_totalprice > 150000)
        |SELECT CAST(coalesce(c_nationkey, -1) AS BIGINT) AS nationkey,
        |  count(c_custkey) AS n_cust_rows,
        |  count(o_custkey) AS n_big_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
        |FROM c FULL OUTER JOIN o ON c_custkey = o_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "q62_grouping_sets" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS flag,
        |  coalesce(l_linestatus, 'ALL') AS status,
        |  count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        |ORDER BY flag, status""".stripMargin,

    "q63_promo_revenue" ->
      """WITH j AS (
        |  SELECT CAST(l_extendedprice AS DECIMAL(18,2)) *
        |         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS rev,
        |    p_type
        |  FROM lineitem JOIN part ON l_partkey = p_partkey
        |  WHERE l_shipdate >= TIMESTAMP '1997-06-01'
        |    AND l_shipdate < TIMESTAMP '1997-07-01'),
        |s AS (
        |  SELECT sum(CASE WHEN p_type LIKE 'PROMO%' THEN rev
        |                  ELSE CAST(0 AS DECIMAL(18,2)) END) AS promo,
        |         sum(rev) AS total
        |  FROM j)
        |SELECT round(100.0 * CAST(promo AS DOUBLE) / CAST(total AS DOUBLE), 4)
        |    AS promo_pct,
        |  CAST(promo AS DOUBLE) AS promo_revenue,
        |  CAST(total AS DOUBLE) AS total_revenue
        |FROM s""".stripMargin,

    "q64_supplier_rank" ->
      """WITH rev AS (
        |  SELECT l_suppkey,
        |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) *
        |      (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))))
        |      AS DOUBLE) AS revenue,
        |    count(*) AS n_items
        |  FROM lineitem GROUP BY l_suppkey),
        |ranked AS (
        |  SELECT n_name, s_suppkey, s_name, revenue, n_items,
        |    CAST(row_number() OVER (PARTITION BY n_name
        |      ORDER BY revenue DESC, s_suppkey) AS BIGINT) AS rnk
        |  FROM rev JOIN supplier ON l_suppkey = s_suppkey
        |    JOIN nation ON s_nationkey = n_nationkey)
        |SELECT n_name, rnk, s_suppkey, s_name, round(revenue, 2) AS revenue,
        |  n_items
        |FROM ranked WHERE rnk <= 3 ORDER BY n_name, rnk""".stripMargin,

    "q41_approx_distinct" ->
      s"""WITH d AS (
        |  SELECT DISTINCT event_type,
        |    ${Kmv.hash60Sql("user_id")} AS h
        |  FROM events),
        |r AS (
        |  SELECT event_type, h,
        |    row_number() OVER (PARTITION BY event_type ORDER BY h) AS rn,
        |    count(*) OVER (PARTITION BY event_type) AS n_users
        |  FROM d)
        |SELECT event_type,
        |  CAST(max(n_users) AS BIGINT) AS exact_users,
        |  ${Kmv.estimateSql("max(n_users)", s"max(CASE WHEN rn = ${Kmv.K} THEN h END)")}
        |    AS approx_users
        |FROM r WHERE rn <= ${Kmv.K}
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "q42_range_join" ->
      s"""WITH bands(band, lo, hi) AS (VALUES
        |  ('b0_10', 0, 10), ('b10_20', 10, 20), ('b20_30', 20, 30),
        |  ('b30_40', 30, 40), ('b40_plus', 40, 1000000))
        |SELECT band, count(*) AS n_items, $revSql AS revenue
        |FROM lineitem JOIN bands ON l_quantity >= lo AND l_quantity < hi
        |GROUP BY band ORDER BY band""".stripMargin,

    "q43_pivot" ->
      """SELECT (epoch_us(ts) // 86400000000) * 86400000000 AS day_us,
        |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
        |  CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
        |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        |  CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        |  CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
        |FROM events GROUP BY 1 ORDER BY day_us""".stripMargin,
  )

  /** Query registry slice for SparkEntry. */
  val registry: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> (q01PricingSummary _),
    "q02_filter_topk" -> (q02FilterTopk _),
    "q03_join_agg" -> (q03JoinAgg _),
    "q04_join_multiway" -> (q04JoinMultiway _),
    "q05_semi_anti" -> (q05SemiAnti _),
    "q06_window_topn" -> (q06WindowTopn _),
    "q07_window_analytic" -> (q07WindowAnalytic _),
    "q08_agg_rollup" -> (q08AggRollup _),
    "q09_agg_cube" -> (q09AggCube _),
    "q10_distinct_agg" -> (q10DistinctAgg _),
    "q11_set_ops" -> (q11SetOps _),
    "q12_scalar_subquery" -> (q12ScalarSubquery _),
    "q13_conditional_agg" -> (q13ConditionalAgg _),
    "q14_json" -> (q14Json _),
    "q15_tumbling_window" -> (q15TumblingWindow _),
    "q16_session_window" -> (q16SessionWindow _),
    "q17_cdc_latest_per_key" -> (q17CdcLatestPerKey _),
    "q18_cdc_fold" -> (q18CdcFold _),
    "q163_mor_mirror" -> (q163MorMirror _),
    "q210_mor_composite_mirror" -> (q210MorCompositeMirror _),
    "q164_mirror_changelog" -> (q164MirrorChangelog _),
    "q173_mixed_seed_fold" -> (q173MixedSeedFold _),
    "q174_schema_evolution" -> (q174SchemaEvolution _),
    "q177_feed_ivm" -> (q177FeedIvm _),
    "q19_asof_join" -> (q19AsofJoin _),
    "q99_asof_custom" -> (q99AsofCustom _),
    "q101_asof_outer" -> (q101AsofOuter _),
    "q158_asof_tolerance" -> (q158AsofTolerance _),
    "q159_dormant_customers" -> (q159DormantCustomers _),
    "q160_large_orders" -> (q160LargeOrders _),
    "q165_blamed_supplier" -> (q165BlamedSupplier _),
    "q178_min_cost_supplier" -> (q178MinCostSupplier _),
    "q179_revenue_change" -> (q179RevenueChange _),
    "q180_product_profit" -> (q180ProductProfit _),
    "q181_returned_revenue" -> (q181ReturnedRevenue _),
    "q182_important_parts" -> (q182ImportantParts _),
    "q183_supplier_diversity" -> (q183SupplierDiversity _),
    "q184_front_loaded_suppliers" -> (q184FrontLoadedSuppliers _),
    "q185_cluster_zonemap" -> (q185ClusterZonemap _),
    "q186_date_cluster_scan" -> (q186DateClusterScan _),
    "q189_time_partitioned_replay" -> (q189TimePartitionedReplay _),
    "q190_catalog_time_travel" -> (q190CatalogTimeTravel _),
    "q191_sql_write_lifecycle" -> (q191SqlWriteLifecycle _),
    "q192_merge_into_lifecycle" -> (q192MergeIntoLifecycle _),
    "q193_sql_hidden_day_filter" -> (q193SqlHiddenDayFilter _),
    "q194_count_fast_oracle" -> (q194CountFastOracle _),
    "q195_catalog_streaming" -> (q195CatalogStreaming _),
    "q196_rollback" -> (q196Rollback _),
    "q197_hour_grain" -> (q197HourGrain _),
    "q198_tags" -> (q198Tags _),
    "q199_add_column" -> (q199AddColumn _),
    "q200_objectstore_lifecycle" -> (q200ObjectStoreLifecycle _),
    "q201_type_widening" -> (q201TypeWidening _),
    "q202_mor_delete" -> (q202MorDelete _),
    "q203_branch_wap" -> (q203BranchWap _),
    "q204_mor_update_merge" -> (q204MorUpdateMerge _),
    "q207_mor_composite_key" -> (q207MorCompositeKey _),
    "q208_positional_delete" -> (q208PositionalDelete _),
    "q209_branch_audit_diff" -> (q209BranchAuditDiff _),
    "q211_delta_over_positional" -> (q211DeltaOverPositional _),
    "q212_cherrypick_diverged" -> (q212CherrypickDiverged _),
    "q213_metadata_history" -> (q213MetadataHistory _),
    "q214_metadata_partitions" -> (q214MetadataPartitions _),
    "q215_zorder_incremental" -> (q215ZorderIncremental _),
    "q216_feed_consumers" -> (q216FeedConsumers _),
    "q217_age_expiry" -> (q217AgeExpiry _),
    "q218_auto_consumer" -> (q218AutoConsumer _),
    "q219_size_compact" -> (q219SizeCompact _),
    "q220_sql_view" -> (q220SqlView _),
    "q205_branch_dml" -> (q205BranchDml _),
    "q206_file_granular_delete" -> (q206FileGranularDelete _),
    "q187_bloom_lookup" -> (q187BloomLookup _),
    "q188_mirror_projection" -> (q188MirrorProjection _),
    "q166_market_share" -> (q166MarketShare _),
    "q167_trade_volume" -> (q167TradeVolume _),
    "q168_top_supplier" -> (q168TopSupplier _),
    "q169_disjunctive_revenue" -> (q169DisjunctiveRevenue _),
    "q170_custdist" -> (q170CustDist _),
    "q171_trailing_window" -> (q171TrailingWindow _),
    "q172_priority_check" -> (q172PriorityCheck _),
    "q102_asof_multikey" -> (q102AsofMultikey _),
    "q103_asof_forward" -> (q103AsofForward _),
    "q26_window_distribution" -> (q26WindowDistribution _),
    "q27_percentiles" -> (q27Percentiles _),
    "q45_set_ops_all" -> (q45SetOpsAll _),
    "q46_array_agg" -> (q46ArrayAgg _),
    "q47_unpivot" -> (q47Unpivot _),
    "q93_profile" -> (q93Profile _),
    "q94_orphans" -> (q94Orphans _),
    "q41_approx_distinct" -> (q41ApproxDistinct _),
    "q42_range_join" -> (q42RangeJoin _),
    "q43_pivot" -> (q43Pivot _),
    "q44_sliding_window" -> (q44SlidingWindow _),
    "q48_scd2_history" -> (q48Scd2History _),
    "q61_outer_join" -> (q61OuterJoin _),
    "q62_grouping_sets" -> (q62GroupingSets _),
    "q63_promo_revenue" -> (q63PromoRevenue _),
    "q64_supplier_rank" -> (q64SupplierRank _),
  )
}
