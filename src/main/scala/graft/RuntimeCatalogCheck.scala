package graft

import org.apache.spark.sql.SparkSession

/** Fresh-JVM proof that the pending-sidecar read split is UNCONDITIONAL
  * on session wiring (round 17, the I15 discipline): a session built
  * WITHOUT `graft.GraftExtensions` — the runtime-registered-catalog
  * deployment a notebook user ships — must still read a sidecar-bearing
  * merge-on-read table through the Union shape: unaffected files on the
  * stock VECTORIZED parquet path (ColumnarToRow, filters pushed to the
  * footer pruning), affected files under the key probe, answers exact.
  * Run forked (`sbt "runMain graft.RuntimeCatalogCheck"`) so the JVM has
  * no pre-existing session; `tools/verify_e2e.py` runs it as its
  * no-extensions arm.
  */
object RuntimeCatalogCheck {
  def main(args: Array[String]): Unit = {
    val whRoot =
      java.nio.file.Files.createTempDirectory("graft-runck-wh").toString
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-runtime-catalog-check")
      // deliberately NO spark.sql.extensions — the split must not need it
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    // runtime registration, the notebook path
    spark.conf.set("spark.sql.catalog.runck",
      classOf[graft.sources.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.runck.warehouse", whRoot)
    require(spark.conf.getOption("spark.sql.extensions").isEmpty,
      "precondition broken: this JVM must NOT load session extensions")

    val wh = graft.sources.Tables.Warehouse(whRoot, retain = 8)
    wh.overwrite((1L to 600L).map(i =>
        (i, if (i % 3 == 0) "del" else "keep", i * 1.0))
      .toDF("id", "grp", "v").repartition(3).localCheckpoint(true), "t")
    graft.sources.Tables.TableProps.write(wh, "t", Map(
      graft.sources.EqDeletes.ModeProp -> "merge-on-read",
      graft.sources.EqDeletes.KeyProp -> "id"))
    spark.sql("DELETE FROM runck.t WHERE grp = 'del'")
    // the clean-group file: an append OUTSIDE every census
    Seq((1000L, "new", 1000.0)).toDF("id", "grp", "v")
      .createOrReplaceTempView("ins_rows")
    spark.sql("INSERT INTO runck.t SELECT * FROM ins_rows")
    require(graft.sources.EqDeletes.pending(wh.snapshotPath("t")).size == 1)

    // the answer is exact through the split
    val n = spark.sql("SELECT count(*) FROM runck.t").head.getLong(0)
    require(n == 401L, s"count through the split: $n (want 401)")
    val got = spark.sql("SELECT sum(v) FROM runck.t WHERE id >= 1000")
      .head.getDouble(0)
    require(got == 1000.0, s"filtered sum: $got")

    // THE round-17 assertion: without extensions, the catalog-registered
    // splice plans the Union shape — clean side vectorized with the
    // filter pushed, affected side under the key probe
    val plan = spark.sql("SELECT v FROM runck.t WHERE id >= 1")
      .queryExecution.executedPlan.toString
    require(plan.contains("Union"),
      s"no Union in the no-extensions plan:\n${plan.take(900)}")
    require(plan.contains("ColumnarToRow"),
      s"clean side must decode vectorized without extensions:\n${plan.take(900)}")
    require(plan.contains("GreaterThanOrEqual(id,1)"),
      s"filter must reach the clean parquet scan:\n${plan.take(900)}")
    require(plan.contains("eq_delete_probe"),
      s"affected side must keep the key probe:\n${plan.take(900)}")

    println("[runtime-catalog-check] PASS: un-extended session reads " +
      "pending sidecars through the vectorized Union split")
    spark.stop()
  }
}
