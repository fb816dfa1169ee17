package graft

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.sources.{EqDeletes, GraftCatalog, Tables}
import graft.sources.Tables.{TableProps, Warehouse}

/** The catalog reads a snapshot with pending sidecars through the same
  * [[EqDeletes.logicalMorRead]] plan as DML matching: the read loads
  * every cache-missing key set in one job however many file groups the
  * sidecars split the table into, the key probe compiles into its
  * stage's whole-stage codegen, and the probe finds each data file's
  * key set whatever form the warehouse root takes.
  */
class SpliceMorReadsSpec extends SparkTestBase {

  /** The first-stage call site of every job `f` starts on this thread. */
  private def jobsOf[T](f: => T): (T, Seq[String]) = {
    val tag = s"splice-mor-${System.nanoTime()}"
    val seen = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties != null && e.properties.getProperty("graft.spec.probe") == tag)
          seen.add(e.stageInfos.sortBy(_.stageId).headOption.map(_.name).getOrElse(""))
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

  private def keyLoads(jobs: Seq[String]): Int = jobs.count(_.startsWith("collect at EqDeletes"))

  private def catalog(name: String): (String, Warehouse) = {
    val root = tmpDir(name)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", root)
    (name, Warehouse(root))
  }

  test("with 3 sidecars over 3 file groups and a cold key-set cache, logicalMorRead and a catalog GROUP BY each run exactly one key-load job") {
    val (cat, wh) = catalog("splicekeyload")
    wh.overwrite(spark.range(400).selectExpr("id", "CAST(id % 4 AS INT) AS grp", "id AS v")
      .repartition(4).localCheckpoint(true), "t")
    TableProps.write(wh, "t", Map(
      EqDeletes.ModeProp -> "merge-on-read", EqDeletes.KeyProp -> "id"))
    val files = graft.plans.ZoneMap.dataFileCensus(spark, wh.snapshotPath("t")).sorted
    assert(files.size == 4)
    def idsIn(snap: String, f: String): Seq[Long] =
      spark.read.parquet(s"$snap/$f").select("id").collect().map(_.getLong(0)).toSeq.sorted
    // sidecar i deletes 5 keys of file i and names only file i: three
    // affected groups with one distinct sidecar each, plus a clean file
    val prior = wh.snapshotPath("t")
    val deleted = files.take(3).map(f => f -> idsIn(prior, f).take(5))
    wh.commit("t", expectCurrent = wh.currentVersion("t")) { staged =>
      wh.carryPreviousInto("t", java.nio.file.Paths.get(staged))
      deleted.foreach { case (f, ids) =>
        EqDeletes.write(staged, EqDeletes.MatchedKeys(StructType(Seq(StructField("id", LongType))),
          ids.map(i => InternalRow(i)).toIndexedSeq, nullKeys = 0), Seq(f))
      }
    }
    val snap = wh.snapshotPath("t")
    assert(EqDeletes.pending(snap).size == 3)
    val gone = deleted.flatMap(_._2).toSet
    val expect = (0L until 400L).filterNot(gone).groupBy(_ % 4).map { case (g, ids) =>
      Row(g.toInt, ids.size.toLong, ids.sum) }.toSet

    EqDeletes.clearKeySetCache()
    val (n, readJobs) = jobsOf(
      EqDeletes.logicalMorRead(spark, snap, TableProps.read(wh, "t")).count())
    assert(n == 385L)
    assert(keyLoads(readJobs) == 1, readJobs.mkString(", "))

    EqDeletes.clearKeySetCache()
    val (groups, scanJobs) = jobsOf(
      spark.sql(s"SELECT grp, count(*), sum(v) FROM $cat.t GROUP BY grp").collect().toSet)
    assert(groups == expect)
    assert(keyLoads(scanJobs) == 1, scanJobs.mkString(", "))
  }

  test("the key probe runs inside whole-stage codegen and keeps the interpreted probe's answer, composite keys with NULL components included") {
    val (cat, wh) = catalog("splicecodegen")
    spark.sql(s"CREATE TABLE $cat.c (a BIGINT, b BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.c VALUES (1, 1, 10), (1, 2, 20), (2, 1, 30), " +
      "(1, NULL, 40), (NULL, 2, 50), (2, 2, 60), (NULL, NULL, 70)")
    TableProps.write(wh, "c", TableProps.read(wh, "c") ++ Map(
      EqDeletes.ModeProp -> "merge-on-read", EqDeletes.KeyProp -> "a,b"))
    val keySchema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val census = graft.plans.ZoneMap.dataFileCensus(spark, wh.snapshotPath("c"))
    wh.commit("c", expectCurrent = wh.currentVersion("c")) { staged =>
      wh.carryPreviousInto("c", java.nio.file.Paths.get(staged))
      EqDeletes.write(staged, EqDeletes.MatchedKeys(keySchema,
        IndexedSeq(InternalRow(1L, 2L), InternalRow(2L, 1L), InternalRow(1L, null)),
        nullKeys = 0), census)
    }
    val q = s"SELECT v FROM $cat.c"
    val plan = spark.sql(q).queryExecution.executedPlan.toString
    assert("""\*\(\d+\) Filter eq_delete_probe""".r.findFirstIn(plan).isDefined,
      s"the probe's Filter left whole-stage codegen:\n$plan")
    def values(): Set[Long] = spark.sql(q).collect().map(_.getLong(0)).toSet
    val expect = Set(10L, 40L, 50L, 60L, 70L)
    assert(values() == expect)
    // outside whole-stage codegen (the generated predicate alone) and
    // fully interpreted, the same rows survive
    Seq(Map("spark.sql.codegen.wholeStage" -> "false"),
        Map("spark.sql.codegen.wholeStage" -> "false",
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")).foreach { confs =>
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      try assert(values() == expect, confs.toString)
      finally confs.keys.foreach(spark.conf.unset)
    }
  }

  test("a table with pending equality and positional sidecars reads, updates and folds the same under a relative warehouse root and under a root whose path holds a space and a '%'") {
    val relative = java.nio.file.Paths.get("target", s"splice-relative-${System.nanoTime()}")
    val spaced = tmpDir("splice sp%ace")
    try Seq("splicerelative" -> relative.toString, "splicespaced" -> spaced).foreach {
      case (cat, root) =>
        spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
        val wh = Warehouse(root)
        spark.sql(s"CREATE TABLE $cat.t (id BIGINT, grp INT)")
        spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id % 4 AS INT) FROM range(40) " +
          "UNION ALL SELECT NULL, 7")
        TableProps.write(wh, "t", TableProps.read(wh, "t") ++ Map(
          EqDeletes.ModeProp -> "merge-on-read", EqDeletes.KeyProp -> "id"))
        // a NULL key matches no equality probe: the positional sidecar
        spark.sql(s"DELETE FROM $cat.t WHERE grp = 7")
        spark.sql(s"DELETE FROM $cat.t WHERE grp = 1")
        spark.sql(s"DELETE FROM $cat.t WHERE id < 4")
        val snap = wh.snapshotPath("t")
        assert(EqDeletes.pending(snap).size == 2, root)
        assert(graft.sources.PosDeletes.pending(snap).size == 1, root)
        val live = (4L until 40L).filter(_ % 4 != 1)
        def rows(): Set[(Long, Int)] = spark.sql(s"SELECT id, grp FROM $cat.t")
          .collect().map(r => (r.getLong(0), r.getInt(1))).toSet
        EqDeletes.clearKeySetCache()
        assert(rows() == live.map(i => (i, (i % 4).toInt)).toSet, root)
        assert(EqDeletes.logicalMorRead(spark, snap, TableProps.read(wh, "t"))
          .select("id").collect().map(_.getLong(0)).toSet == live.toSet, root)
        // the delta target scan reads through the same sidecars
        spark.sql(s"UPDATE $cat.t SET grp = 9 WHERE id IN (5, 6, 8)")
        val updated = live.map(i => (i, if (i == 6L || i == 8L) 9 else (i % 4).toInt)).toSet
        assert(rows() == updated, root)
        spark.sql(s"CALL $cat.system.compact('t')")
        assert(!EqDeletes.anyPending(wh.snapshotPath("t")), root)
        assert(rows() == updated, root)
    } finally Tables.deleteRecursively(relative)
  }
}
