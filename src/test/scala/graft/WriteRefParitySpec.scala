package graft

import org.apache.spark.sql.streaming.Trigger

import graft.sources.{EqDeletes, GraftCatalog, PosDeletes}
import graft.sources.Tables.{TableProps, Warehouse}

/** Main and a write-audit-publish branch are one commit target: the same
  * statement sequence run on a table's main and, under
  * `spark.graft.wap.branch`, on a branch forked at the same content
  * leaves the same rows and the same pending sidecar kinds after every
  * statement, and a statement that matches nothing moves neither ref.
  */
class WriteRefParitySpec extends SparkTestBase {
  import spark.implicits._

  private val seq = new java.util.concurrent.atomic.AtomicInteger()

  private def onBranch[T](b: String)(body: => T): T = {
    spark.conf.set("spark.graft.wap.branch", b)
    try body finally spark.conf.unset("spark.graft.wap.branch")
  }

  /** Two identical tables in one warehouse: `mt` is written on main,
    * `bt` on its branch `audit`, forked once both hold the seed rows. */
  private def fixture(mor: Boolean): (String, Warehouse) = {
    val root = tmpDir("refparity")
    val wh = Warehouse(root, retain = 8)
    val cat = s"refparity${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
    Seq("mt", "bt").foreach { t =>
      spark.sql(s"CREATE TABLE $cat.$t (id BIGINT, grp INT)")
      spark.sql(s"INSERT INTO $cat.$t SELECT id, CAST(id % 4 AS INT) " +
        "FROM range(40) UNION ALL SELECT NULL, 7")
      // the expert path (as in SpliceMorReadsSpec): the props land after
      // the NULL-key row, which only a non-key predicate can delete
      if (mor) TableProps.write(wh, t, TableProps.read(wh, t) ++ Map(
        EqDeletes.ModeProp -> "merge-on-read", EqDeletes.KeyProp -> "id"))
    }
    spark.sql(s"CALL $cat.system.create_branch('bt', 'audit')").collect()
    (cat, wh)
  }

  /** (rows, (pending equality sidecars, pending positional sidecars)) of
    * one snapshot, read through its pending deletes. */
  private def state(wh: Warehouse, t: String, dir: String) = {
    val rows = EqDeletes.logicalMorRead(spark, dir, TableProps.read(wh, t))
      .select("id", "grp").collect()
      .map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)), r.getInt(1)))
      .toSet
    (rows, (EqDeletes.pending(dir).size, PosDeletes.pending(dir).size))
  }

  private def mainHead(wh: Warehouse) = wh.currentVersion("mt").get
  private def branchHead(wh: Warehouse) = wh.branches("bt")("audit")._1

  /** Run `stmt` (`$t` names the table) on main and on the branch; both
    * must reach the same state, and a no-op must move neither ref. */
  private def both(cat: String, wh: Warehouse, stmt: String,
      noop: Boolean = false)(run: String => Unit = t => spark.sql(t)): Unit = {
    val (m0, b0) = (mainHead(wh), branchHead(wh))
    val btMain = wh.currentVersion("bt")
    run(stmt.replace("$t", s"$cat.mt"))
    onBranch("audit")(run(stmt.replace("$t", s"$cat.bt")))
    val onMain = state(wh, "mt", wh.snapshotPath("mt"))
    val onBr = state(wh, "bt", wh.branchSnapshotDir("bt", "audit").toString)
    assert(onMain == onBr, s"main and branch differ after: $stmt")
    assert(wh.currentVersion("bt") == btMain, s"branch write moved main: $stmt")
    if (noop) {
      assert(mainHead(wh) == m0, s"a no-op moved main: $stmt")
      assert(branchHead(wh) == b0, s"a no-op moved the branch head: $stmt")
    }
  }

  test("merge-on-read DML, INSERT OVERWRITE and a streaming epoch leave main and a WAP branch in the same state") {
    val (cat, wh) = fixture(mor = true)
    both(cat, wh, "INSERT INTO $t VALUES (100, 1), (101, 2)")()
    both(cat, wh, "DELETE FROM $t WHERE grp = 1")()
    assert(state(wh, "mt", wh.snapshotPath("mt"))._2 == ((1, 0)),
      "a key-identified DELETE writes an equality sidecar")
    both(cat, wh, "DELETE FROM $t WHERE grp = 7")()
    assert(state(wh, "mt", wh.snapshotPath("mt"))._2 == ((1, 1)),
      "a NULL-key DELETE writes a positional sidecar")
    both(cat, wh, "UPDATE $t SET grp = 9 WHERE id IN (2, 6)")()
    Seq((6L, 3), (200L, 0)).toDF("id", "grp").createOrReplaceTempView("refparity_src")
    both(cat, wh, "MERGE INTO $t USING refparity_src s ON $t.id = s.id " +
      "WHEN MATCHED THEN UPDATE SET grp = s.grp " +
      "WHEN NOT MATCHED THEN INSERT (id, grp) VALUES (s.id, s.grp)")()
    val live = state(wh, "mt", wh.snapshotPath("mt"))._1
    assert(live.contains((Some(6L), 3)) && live.contains((Some(200L), 0)) &&
      live.contains((Some(2L), 9)) && !live.exists(_._2 == 7) &&
      !live.exists(_._2 == 1), live)
    both(cat, wh, "DELETE FROM $t WHERE grp = 42", noop = true)()
    both(cat, wh, "INSERT OVERWRITE $t SELECT id, CAST(id % 3 AS INT) " +
      "FROM range(10, 20)")()
    assert(state(wh, "mt", wh.snapshotPath("mt")) ==
      (((10L until 20L).map(i => (Some(i), (i % 3).toInt)).toSet, (0, 0))))
    val src = tmpDir("refparity-src")
    Seq((300L, 1), (301L, 2)).toDF("id", "grp").write.mode("overwrite")
      .parquet(s"$src/batch0")
    both(cat, wh, "$t") { t =>
      val q = spark.readStream.schema("id BIGINT, grp INT")
        .option("recursiveFileLookup", "true").parquet(src)
        .writeStream
        .option("checkpointLocation", tmpDir("refparity-ckpt"))
        .trigger(Trigger.AvailableNow())
        .toTable(t)
      drain(q); q.stop()
    }
    assert(state(wh, "mt", wh.snapshotPath("mt"))._1.contains((Some(301L), 2)))
  }

  test("a whole-table copy-on-write DELETE that matches nothing moves neither main nor the branch head") {
    val (cat, wh) = fixture(mor = false)
    both(cat, wh, "DELETE FROM $t WHERE grp = 42", noop = true)()
    both(cat, wh, "DELETE FROM $t WHERE grp = 3")()
    assert(!state(wh, "mt", wh.snapshotPath("mt"))._1.exists(_._2 == 3))
  }

  test("a merge-on-read DELETE without a declared key refuses loudly on main and on the branch, moving neither") {
    val (cat, wh) = fixture(mor = false)
    Seq("mt", "bt").foreach(t => TableProps.write(wh, t,
      TableProps.read(wh, t) + (EqDeletes.ModeProp -> "merge-on-read")))
    val (m0, b0) = (mainHead(wh), branchHead(wh))
    def refusal(run: => Unit): String = {
      val e = intercept[Exception](run)
      Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
        .map(x => Option(x.getMessage).getOrElse("")).mkString(" ")
    }
    val onMain = refusal(spark.sql(s"DELETE FROM $cat.mt WHERE grp = 3"))
    val onBr = refusal(onBranch("audit")(spark.sql(s"DELETE FROM $cat.bt WHERE grp = 3")))
    Seq(onMain, onBr).foreach(m => assert(m.contains(EqDeletes.KeyProp), m.take(300)))
    assert(mainHead(wh) == m0 && branchHead(wh) == b0)
  }
}

