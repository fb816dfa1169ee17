package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

import graft.sources.{EqDeletes, GraftCatalog}
import graft.sources.Tables.Warehouse

/** Merge-on-read SQL DML on a table with pending equality-delete
  * sidecars runs no schema-inference Spark job: every snapshot, key
  * frame and sidecar stack it reads is engine-written, so its schema
  * comes from the driver-side footer shortcut. Jobs are classified by
  * the cdcbench harness's rule (`graft.cdcbench.Bench.isInference`): a
  * job whose first stage's call site is a reader method, or whose only
  * operations are Spark's parallel footer read.
  */
class MorDmlInferenceSpec extends SparkTestBase {

  private def isInference(callSite: String, scopes: String): Boolean =
    callSite.matches("^(parquet|load|json|csv|orc|schema|inferSchema|table) at .*") ||
      scopes == "mapPartitions|parallelize"

  /** The (call site, scopes) of every job `f` starts, tagged through a
    * local property so only this thread's jobs (and the AQE stages it
    * submits) count. */
  private def jobsOf[T](f: => T): (T, Seq[(String, String)]) = {
    val tag = s"mor-dml-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.probe") == tag) {
          val first = e.stageInfos.sortBy(_.stageId).headOption
          seen.add((first.map(_.name).getOrElse(""),
            first.toSeq.flatMap(_.rddInfos.flatMap(_.scope.map(_.name)))
              .distinct.sorted.mkString("|")))
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    sc.setLocalProperty("graft.spec.probe", tag)
    try {
      val r = f
      org.apache.spark.GraftSparkBridge.waitListenerBusEmpty(sc)
      (r, seen.asScala.toSeq)
    } finally {
      sc.setLocalProperty("graft.spec.probe", null)
      sc.removeSparkListener(listener)
    }
  }

  private def noInference[T](what: String)(f: => T): T = {
    val (r, jobs) = jobsOf(f)
    val inferring = jobs.filter { case (c, s) => isInference(c, s) }
    assert(inferring.isEmpty, s"$what ran schema-inference jobs: $inferring")
    r
  }

  private def rows(table: String): Set[Row] =
    spark.sql(s"SELECT id, grp, v FROM $table").collect().toSet

  private def groupBy(table: String): Set[Row] =
    spark.sql(s"SELECT grp, count(*), sum(v) FROM $table GROUP BY grp").collect().toSet

  test("with 3 pending sidecars, DELETE, the first GROUP BY after it and CALL compact run zero schema-inference jobs and return the copy-on-write twin's rows") {
    val root = tmpDir("mor-dml-jobs")
    val cat = "mordmljobs"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    val (mor, cow) = (s"$cat.mor", s"$cat.cow")
    Seq(mor, cow).foreach { t =>
      spark.sql(s"CREATE TABLE $t (id BIGINT, grp INT, v BIGINT)")
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 8 AS INT), id FROM range(600)")
    }
    spark.sql(s"ALTER TABLE $mor SET TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'cdc.key-column'='id')")
    spark.range(500, 700).selectExpr("id", "CAST((id * 7) % 8 AS INT) AS grp", "id * 3 AS v")
      .createOrReplaceTempView("mor_dml_src")
    def bothTables(sql: String => String): Unit = Seq(mor, cow).foreach(t => spark.sql(sql(t)))
    // three pending sidecars: the MERGE's updated keys and two DELETEs
    bothTables(t => s"""MERGE INTO $t t USING mor_dml_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET grp = s.grp, v = s.v
      |WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, s.grp, s.v)""".stripMargin)
    bothTables(t => s"DELETE FROM $t WHERE grp = 1")
    bothTables(t => s"DELETE FROM $t WHERE grp = 2")
    val wh = Warehouse(root)
    assert(EqDeletes.pending(wh.snapshotPath("mor")).size == 3)
    assert(rows(mor) == rows(cow))

    noInference("DELETE")(spark.sql(s"DELETE FROM $mor WHERE grp = 5"))
    spark.sql(s"DELETE FROM $cow WHERE grp = 5")
    assert(EqDeletes.pending(wh.snapshotPath("mor")).size == 4)
    val groups = noInference("the first GROUP BY after the DELETE")(groupBy(mor))
    assert(groups == groupBy(cow))
    assert(rows(mor) == rows(cow))

    noInference("CALL compact")(spark.sql(s"CALL $cat.system.compact('mor', 2)").collect())
    assert(EqDeletes.pending(wh.snapshotPath("mor")).isEmpty)
    assert(rows(mor) == rows(cow))
    assert(groupBy(mor) == groupBy(cow))
  }
}
