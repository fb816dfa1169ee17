package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** End-to-end proof of the `spark.sql.extensions=graft.GraftExtensions`
  * deployment path (the spark-submit configuration a user ships): a fresh
  * session built WITH the extension must parse the injected functions from
  * SQL with no runtime registration, and the injected optimizer rule must
  * fire. Run forked (`sbt "runMain graft.ExtensionsCheck"`) so the JVM has
  * no pre-existing session.
  */
object ExtensionsCheck {
  def main(args: Array[String]): Unit = {
    val whRoot = java.nio.file.Files.createTempDirectory("graft-extck-wh").toString
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-check")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the catalog half of the spark-submit deployment path: registered
      // STATICALLY like a user's conf file would, not via runtime conf
      .config("spark.sql.catalog.graftck", "graft.sources.GraftCatalog")
      .config("spark.sql.catalog.graftck.warehouse", whRoot)
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._

    val ngrams = spark.sql("SELECT word_ngrams(array('a','b','c'), 2) AS g")
      .collect()(0).getSeq[String](0)
    require(ngrams == Seq("a b", "b c"), s"word_ngrams: $ngrams")

    val dot = spark.sql("SELECT long_dot(array(1L,2L,3L), array(4L,5L,6L)) AS d")
      .collect()(0).getLong(0)
    require(dot == 32L, s"long_dot: $dot")

    val latest = Seq((1L, "old", 1L), (1L, "new", 2L)).toDF("k", "v", "ts")
      .groupBy($"k").agg(expr("latest_row(v, ts)").as("v"))
      .collect()(0).getString(1)
    require(latest == "new", s"latest_row: $latest")

    val sk = Seq(5L, 3L, 9L, 3L, 7L).toDF("h")
      .agg(expr("kmv_sketch(h, 3)").as("sk"))
      .collect()(0).getSeq[Long](0)
    require(sk == Seq(3L, 5L, 7L), s"kmv_sketch: $sk")

    val topk = Seq(("a", 5L), ("b", 9L), ("c", 9L), ("d", 1L)).toDF("v", "c")
      .agg(expr("top_k_by(v, c, 2)").as("t"))
      .selectExpr("transform(t, e -> e.v) AS vs")
      .collect()(0).getSeq[String](0)
    require(topk == Seq("b", "c"), s"top_k_by: $topk")

    // round-8 overloads through the SAME injected builders: custom
    // separator n-grams, BIGINT top_k_by payloads (numeric tie order)
    val ngrams3 = spark.sql("SELECT word_ngrams(array('a','b','c'), 2, '|') AS g")
      .collect()(0).getSeq[String](0)
    require(ngrams3 == Seq("a|b", "b|c"), s"word_ngrams sep: $ngrams3")

    val topkL = Seq((100L, 5L), (2L, 9L), (10L, 9L), (7L, 1L)).toDF("v", "c")
      .agg(expr("top_k_by(v, c, 3)").as("t"))
      .selectExpr("transform(t, e -> e.v) AS vs")
      .collect()(0).getSeq[Long](0)
    require(topkL == Seq(2L, 10L, 100L), s"top_k_by bigint: $topkL")

    val bf = spark.sql(
      "SELECT bloom_might_contain(bf, xxhash64(42L), 5) AS hit, " +
        "bloom_might_contain(bf, xxhash64(43L), 5) AS miss FROM " +
        "(SELECT bloom_build(xxhash64(42L), 1024, 5) AS bf)")
      .collect()(0)
    require(bf.getBoolean(0) && !bf.getBoolean(1), s"bloom_build/might_contain: $bf")

    val hh = Seq("a", "b", "a", "c", "a", "b").toDF("t")
      .agg(expr("heavy_hitters(t, 8)").as("hh"))
      .selectExpr("transform(hh, e -> concat(e.item, ':', e.cnt)) AS s")
      .collect()(0).getSeq[String](0)
    require(hh == Seq("a:3", "b:2", "c:1"), s"heavy_hitters: $hh")

    val plan = Seq((1L, "x", 1L)).toDF("k", "v", "ts")
      .groupBy($"k").agg(max_by(struct($"v"), $"ts").as("last"))
      .queryExecution.executedPlan.toString
    require(plan.contains("latest_row"),
      s"RewriteMaxByToLatestRow did not fire:\n$plan")

    // whole-operator strategy injected at session build: the as-of node
    // must plan through its exec WITHOUT AsOf.ensureStrategy having run
    val asofL = Seq((1L, 10L), (1L, 20L)).toDF("k", "ts")
    val asofR = Seq((1L, 5L, "early"), (1L, 15L, "late")).toDF("rk", "rts", "p")
    val asof = org.apache.spark.sql.GraftSqlBridge.ofRows(spark,
      graft.plans.AsOfJoin(
        asofL.queryExecution.analyzed, asofR.queryExecution.analyzed,
        Seq(asofL.queryExecution.analyzed.output.head),
        Seq(asofR.queryExecution.analyzed.output.head),
        asofL.queryExecution.analyzed.output(1),
        asofR.queryExecution.analyzed.output(1)))
    val asofRows = asof.orderBy("ts").collect().map(r => (r.getLong(1), r.getString(4)))
    require(asofRows.toSeq == Seq((10L, "early"), (20L, "late")),
      s"as-of via injected strategy: ${asofRows.toSeq}")
    require(asof.queryExecution.executedPlan.toString.contains("AsOfJoin"),
      "AsOfJoinStrategy was not injected via spark.sql.extensions")

    // statically-configured catalog: SQL reads, time travel, and a CALL
    // procedure against a warehouse this fresh JVM just wrote
    val wh = graft.sources.Tables.Warehouse(whRoot, retain = 4)
    wh.overwrite(Seq((1L, "v1")).toDF("id", "s").localCheckpoint(true), "t")
    wh.overwrite(Seq((1L, "v2"), (2L, "w")).toDF("id", "s")
      .localCheckpoint(true), "t")
    val cur = spark.sql("SELECT s FROM graftck.t WHERE id = 1")
      .collect()(0).getString(0)
    require(cur == "v2", s"catalog current read: $cur")
    val old = spark.sql("SELECT s FROM graftck.t VERSION AS OF 1")
      .collect()(0).getString(0)
    require(old == "v1", s"catalog VERSION AS OF: $old")
    val snaps = spark.sql("CALL graftck.system.snapshots('t')").count()
    require(snaps == 2L, s"snapshots(): $snaps")

    // transform-aware HIDDEN-partition pruning: a SQL filter on the TIME
    // column of a day-partitioned changelog must prune day dirs as real
    // PartitionFilters — the injected DeriveHiddenDayFilters rule runs
    // before the pushdown batch only on the extensions path, so this
    // fresh JVM is where the end-to-end plan is provable
    wh.declareTimePartition("ev", "ts")
    wh.appendBatch(Seq(
      (1L, java.sql.Timestamp.valueOf("2026-01-02 10:00:00"), 1.0),
      (2L, java.sql.Timestamp.valueOf("2026-01-05 10:00:00"), 2.0),
      (3L, java.sql.Timestamp.valueOf("2026-01-09 10:00:00"), 3.0))
      .toDF("id", "ts", "v"), "ev", 0L)
    val pruned = spark.sql("SELECT id FROM graftck.ev " +
      "WHERE ts >= TIMESTAMP '2026-01-04 00:00:00' " +
      "AND ts <= TIMESTAMP '2026-01-06 00:00:00'")
    val prunedPlan = pruned.queryExecution.executedPlan.toString
    require(prunedPlan.contains("PartitionFilters") &&
        prunedPlan.contains("p_day"),
      s"hidden-day pruning did not reach PartitionFilters:\n$prunedPlan")
    require(!prunedPlan.matches("(?s).*PartitionFilters: \\[\\].*"),
      s"PartitionFilters empty — day conjuncts were not derived:\n$prunedPlan")
    val prunedIds = pruned.collect().map(_.getLong(0)).toSeq
    require(prunedIds == Seq(2L), s"hidden-day pruned read: $prunedIds")

    // a sidecar-bearing table in a session built only from static conf
    // reads through the catalog-registered splice: clean files on the
    // vectorized path, the census files under the key probe
    wh.overwrite(spark.range(100)
      .select($"id", ($"id" % 5).cast("string").as("grp"))
      .repartition(2).localCheckpoint(true), "mt")
    graft.sources.Tables.TableProps.write(wh, "mt", Map(
      "write.delete.mode" -> "merge-on-read", "cdc.key-column" -> "id"))
    spark.sql("DELETE FROM graftck.mt WHERE id < 10")
    spark.sql("INSERT INTO graftck.mt SELECT id, 'new' FROM range(200, 210)")
    val splitQ = spark.sql("SELECT count(*) FROM graftck.mt")
    require(splitQ.collect()(0).getLong(0) == 100L,
      "eq-delete split read: wrong count")
    val splitPlan = splitQ.queryExecution.executedPlan.toString
    require(splitPlan.contains("eq_delete_probe") &&
        splitPlan.contains("ColumnarToRow"),
      s"the pending-sidecar read did not splice into a vectorized Union " +
        s"with the key probe:\n${splitPlan.take(800)}")

    println("[extensions-check] OK: functions + optimizer rule + planner " +
      "strategy + SQL catalog (tables, time travel, CALL) + hidden-day " +
      "partition pruning + eq-delete read split under static session " +
      "conf")
    spark.stop()
  }
}
