package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row

import graft.sources.{EqDeletes, GraftCatalog}
import graft.sources.Tables.Warehouse

/** Merge-on-read SQL DML keeps its key sets on the driver: a DELETE
  * collects its matched keys once and writes the sidecar from them, a
  * MERGE takes its deleted keys from its tasks' commit messages, and the
  * DataFrame-level read probes cached key sets instead of broadcasting
  * every pending sidecar's key frame. So none of these statements runs a
  * broadcast job, a key read-back or a sidecar-save job.
  */
class MorDmlJobsSpec extends SparkTestBase {

  /** A job: the call site of its first stage, and the RDD scope names
    * of all its stages. */
  private case class Job(callSite: String, scopes: Set[String])

  /** Every job `f` starts, tagged through a local property so only this
    * thread's jobs (and the AQE stages it submits) count. */
  private def jobsOf[T](f: => T): (T, Seq[Job]) = {
    val tag = s"mor-dml-jobs-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[Job]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.probe") == tag) {
          val stages = e.stageInfos.sortBy(_.stageId)
          seen.add(Job(stages.headOption.map(_.name).getOrElse(""),
            stages.flatMap(_.rddInfos.flatMap(_.scope.map(_.name))).toSet))
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

  /** Run `f`, asserting it runs at most `ceiling` jobs and none of the
    * small-metadata jobs the driver-side key sets replace. */
  private def driverKeyed[T](what: String, ceiling: Int)(f: => T): T = {
    val (r, jobs) = jobsOf(f)
    val listing = jobs.map(j => s"${j.callSite} ${j.scopes.toSeq.sorted.mkString("[", "|", "]")}")
      .mkString("\n  ")
    assert(!jobs.exists(_.scopes.contains("BroadcastExchange")),
      s"$what broadcast a key frame:\n  $listing")
    assert(!jobs.exists(_.callSite.startsWith("collect at EqDeltaWrite")),
      s"$what read its sidecar keys back:\n  $listing")
    assert(!jobs.exists(_.callSite.startsWith("save at EqDeletes")),
      s"$what saved its sidecar through a Spark job:\n  $listing")
    assert(jobs.size <= ceiling, s"$what ran ${jobs.size} jobs (ceiling $ceiling):\n  $listing")
    r
  }

  private def rows(table: String): Set[Row] =
    spark.sql(s"SELECT id, grp, v FROM $table").collect().toSet

  private def groupBy(table: String): Set[Row] =
    spark.sql(s"SELECT grp, count(*), sum(v) FROM $table GROUP BY grp").collect().toSet

  /** A merge-on-read table and its copy-on-write twin under catalog
    * `cat`, both seeded with the same 600 rows. */
  private def twins(cat: String): (String, String, Warehouse) = {
    val root = tmpDir(cat)
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    val (mor, cow) = (s"$cat.mor", s"$cat.cow")
    Seq(mor, cow).foreach { t =>
      spark.sql(s"CREATE TABLE $t (id BIGINT, grp INT, v BIGINT)")
      spark.sql(s"INSERT INTO $t SELECT id, CAST(id % 8 AS INT), id FROM range(600)")
    }
    spark.sql(s"ALTER TABLE $mor SET TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'cdc.key-column'='id')")
    (mor, cow, Warehouse(root))
  }

  private def mergeSql(t: String, src: String): String =
    s"""MERGE INTO $t t USING $src s ON t.id = s.id
       |WHEN MATCHED THEN UPDATE SET grp = s.grp, v = s.v
       |WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, s.grp, s.v)""".stripMargin

  test("with 3 pending sidecars, DELETE, MERGE and CALL compact run no key-frame broadcast, read-back or sidecar-save job, at most 3 jobs each, and return the copy-on-write twin's rows") {
    val cat = "mordmljobs2"
    val (mor, cow, wh) = twins(cat)
    spark.range(500, 700).selectExpr("id", "CAST((id * 7) % 8 AS INT) AS grp", "id * 3 AS v")
      .createOrReplaceTempView("mor_jobs_src")
    spark.range(100, 180).selectExpr("id", "CAST((id * 3) % 8 AS INT) AS grp", "id * 5 AS v")
      .createOrReplaceTempView("mor_jobs_src2")
    def bothTables(sql: String => String): Unit = Seq(mor, cow).foreach(t => spark.sql(sql(t)))
    // three pending sidecars: the MERGE's updated keys and two DELETEs
    bothTables(mergeSql(_, "mor_jobs_src"))
    bothTables(t => s"DELETE FROM $t WHERE grp = 1")
    bothTables(t => s"DELETE FROM $t WHERE grp = 2")
    assert(EqDeletes.pending(wh.snapshotPath("mor")).size == 3)
    assert(rows(mor) == rows(cow))

    driverKeyed("DELETE", 3)(spark.sql(s"DELETE FROM $mor WHERE grp = 5"))
    spark.sql(s"DELETE FROM $cow WHERE grp = 5")
    assert(EqDeletes.pending(wh.snapshotPath("mor")).size == 4)
    assert(groupBy(mor) == groupBy(cow))

    driverKeyed("MERGE", 3)(spark.sql(mergeSql(mor, "mor_jobs_src2")))
    spark.sql(mergeSql(cow, "mor_jobs_src2"))
    assert(EqDeletes.pending(wh.snapshotPath("mor")).size == 5)
    assert(rows(mor) == rows(cow))

    driverKeyed("CALL compact", 3)(spark.sql(s"CALL $cat.system.compact('mor', 2)").collect())
    assert(EqDeletes.pending(wh.snapshotPath("mor")).isEmpty)
    assert(rows(mor) == rows(cow))
    assert(groupBy(mor) == groupBy(cow))
  }

  test("the key-set cache follows a sidecar across versions: after a MERGE carries a cached sidecar into a new version, a GROUP BY runs no key-load job") {
    val cat = "mordmlcache"
    val (mor, cow, wh) = twins(cat)
    spark.range(590, 620).selectExpr("id", "CAST(id % 3 AS INT) AS grp", "id AS v")
      .createOrReplaceTempView("mor_cache_src")
    Seq(mor, cow).foreach(t => spark.sql(s"DELETE FROM $t WHERE grp = 3"))
    val deleteSidecar = EqDeletes.pending(wh.snapshotPath("mor")).head
    // a cold cache: the first scan loads the DELETE's set in one job
    EqDeletes.clearKeySetCache()
    val (_, cold) = jobsOf(groupBy(mor))
    assert(cold.count(_.callSite.startsWith("collect at EqDeletes")) == 1,
      cold.map(_.callSite).mkString(", "))
    // the MERGE re-links that sidecar into its new version dir (a new
    // path, the same immutable content) and publishes one of its own
    Seq(mor, cow).foreach(t => spark.sql(mergeSql(t, "mor_cache_src")))
    val carried = EqDeletes.pending(wh.snapshotPath("mor"))
    assert(carried.size == 2 &&
      carried.exists(_.dir.getFileName == deleteSidecar.dir.getFileName) &&
      !carried.exists(_.dir == deleteSidecar.dir))
    val (groups, warm) = jobsOf(groupBy(mor))
    assert(!warm.exists(_.callSite.startsWith("collect at EqDeletes")),
      s"a carried or just-published sidecar's key set was loaded again: " +
        warm.map(_.callSite).mkString(", "))
    assert(groups == groupBy(cow))
    assert(rows(mor) == rows(cow))
  }
}
