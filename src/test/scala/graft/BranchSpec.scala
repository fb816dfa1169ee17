package graft

import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, Tables}
import graft.sources.Tables.Warehouse

/** Branches / write-audit-publish (round-14 verdict item 4): a branch is
  * a named mutable ref forked from main — `spark.graft.wap.branch`
  * routes SQL INSERTs onto it, `VERSION AS OF '<branch>'` is the audit
  * read, `CALL fast_forward` publishes the audited head into main with
  * ONE pointer CAS, and retention GC pins branch heads exactly like
  * tags. The Iceberg branch-ref semantics (same v2 spec the reference's
  * substrate inherits, tabular.py:69-70) on the props sidecar.
  */
class BranchSpec extends SparkTestBase {
  import spark.implicits._

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def fixture(retain: Int = 8): (String, Warehouse) = {
    val root = tmpDir("branch")
    val wh = Warehouse(root, retain)
    wh.overwrite(Seq((1L, "base1"), (2L, "base2")).toDF("id", "s")
      .localCheckpoint(true), "t")
    val cat = s"br${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    spark.conf.set(s"spark.sql.catalog.$cat.retain", retain.toString)
    (cat, wh)
  }

  private def onBranch[T](b: String)(body: => T): T = {
    spark.conf.set("spark.graft.wap.branch", b)
    try body finally spark.conf.unset("spark.graft.wap.branch")
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
    df.select("id").collect().map(_.getLong(0)).toSet

  test("WAP round trip: branch writes invisible to main, audited via the branch read, published by one fast_forward CAS") {
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'audit')").collect()
    val vMain = wh.currentVersion("t").get
    // two staged appends (the bad-then-fixed ingest shape)
    Seq((3L, "ing3")).toDF("id", "s").createOrReplaceTempView(s"b1_$seq")
    Seq((4L, "ing4")).toDF("id", "s").createOrReplaceTempView(s"b2_$seq")
    onBranch("audit") {
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM b1_$seq")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM b2_$seq")
    }
    // main: untouched — pointer never moved, plain reads see the base
    assert(wh.currentVersion("t").contains(vMain))
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L))
    // audit read: the branch head serves base + both staged batches
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 'audit'")) ==
      Set(1L, 2L, 3L, 4L))
    // branch snapshots are NOT main history yet
    val preSnaps = spark.sql(s"CALL $cat.system.snapshots('t')")
      .collect().map(_.getLong(0)).toSet
    assert(preSnaps == Set(vMain))
    // publish: one CAS; main serves the audited head
    val ff = spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')")
      .collect().head
    assert(ff.getLong(2) == vMain + 2, "two branch commits on top of base")
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L, 3L, 4L))
    assert(wh.currentVersion("t").contains(vMain + 2))
    // the branch re-based at its own head: a second ff is a no-op hop
    val again = spark.sql(s"CALL $cat.system.fast_forward('t', 'audit')")
      .collect().head
    assert(again.getLong(2) == vMain + 2)
    // the intermediate branch version joined main's history (ancestry),
    // readable for forensics
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF ${vMain + 1}"))
      == Set(1L, 2L, 3L))
  }

  test("fast_forward refuses when main moved since the fork (not fast-forwardable)") {
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'b')").collect()
    Seq((3L, "br")).toDF("id", "s").createOrReplaceTempView(s"d_$seq")
    onBranch("b") { spark.sql(s"INSERT INTO $cat.t SELECT * FROM d_$seq") }
    // main diverges
    Seq((9L, "main")).toDF("id", "s").createOrReplaceTempView(s"m_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM m_$seq")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.fast_forward('t', 'b')").collect()
    }
    assert(e.getMessage.contains("not fast-forwardable"), e.getMessage)
    // both lines of history intact
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L, 9L))
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 'b'")) ==
      Set(1L, 2L, 3L))
    assert(wh.dropBranch("t", "b"))
  }

  test("retention GC pins branch heads like tags; drop_branch releases them") {
    val (cat, wh) = fixture(retain = 2)
    spark.sql(s"CALL $cat.system.create_branch('t', 'keep')").collect()
    Seq((3L, "br")).toDF("id", "s").createOrReplaceTempView(s"k_$seq")
    onBranch("keep") { spark.sql(s"INSERT INTO $cat.t SELECT * FROM k_$seq") }
    val head = wh.branches("t")("keep")._1
    // churn main far past the retention window
    (1 to 4).foreach { i =>
      wh.overwrite(Seq((100L + i, s"churn$i")).toDF("id", "s")
        .localCheckpoint(true), "t")
    }
    // the branch head survived every sweep and still audits exactly
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"${wh.tablePath("t")}.v$head")))
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 'keep'")) ==
      Set(1L, 2L, 3L))
    // dropping the branch releases the pin: the next commits age it out
    spark.sql(s"CALL $cat.system.drop_branch('t', 'keep')").collect()
    (1 to 3).foreach { i =>
      wh.overwrite(Seq((200L + i, s"post$i")).toDF("id", "s")
        .localCheckpoint(true), "t")
    }
    assert(!java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"${wh.tablePath("t")}.v$head")),
      "an unpinned branch head re-enters the retention window")
  }

  test("a live branch pins its fork BASE against retention and explicit expiry: branchDiff keeps its ancestry witness past the window; drop_branch releases it") {
    import graft.plans.MirrorChangelog
    val (cat, wh) = fixture(retain = 2)
    val base = wh.currentVersion("t").get
    spark.sql(s"CALL $cat.system.create_branch('t', 'audit')").collect()
    Seq((3L, "br")).toDF("id", "s").createOrReplaceTempView(s"fb_$seq")
    onBranch("audit") {
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM fb_$seq")
    }
    def baseDir = java.nio.file.Paths.get(s"${wh.tablePath("t")}.v$base")
    // churn main far past the retention window, then expire aggressively
    (1 to 4).foreach { i =>
      wh.overwrite(Seq((100L + i, s"churn$i")).toDF("id", "s")
        .localCheckpoint(true), "t")
    }
    spark.sql(s"CALL $cat.system.expire_snapshots('t', 1)").collect()
    assert(java.nio.file.Files.isDirectory(baseDir),
      "the live branch's fork base must survive retention + expiry")
    // the audit diff still has its ancestry witness: exactly the one
    // staged insert, computed base-vs-head PAST the retention window
    val d = MirrorChangelog.branchDiff(spark, wh, "t", "audit", "id")
      .collect().map(r => (r.getAs[Long]("id"),
        r.getAs[String](MirrorChangelog.ChangeTypeCol))).toSet
    assert(d == Set((3L, MirrorChangelog.Insert)),
      s"diff past the retention window must still be exact, got $d")
    // dropping the branch releases the base pin: it ages out normally
    spark.sql(s"CALL $cat.system.drop_branch('t', 'audit')").collect()
    (1 to 3).foreach { i =>
      wh.overwrite(Seq((200L + i, s"post$i")).toDF("id", "s")
        .localCheckpoint(true), "t")
    }
    assert(!java.nio.file.Files.isDirectory(baseDir),
      "an unpinned fork base re-enters the retention window")
  }

  test("explicit snapshot expiry skips a fast-forwarded branch head (published + still referenced)") {
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'pin')").collect()
    Seq((3L, "br")).toDF("id", "s").createOrReplaceTempView(s"p_$seq")
    onBranch("pin") { spark.sql(s"INSERT INTO $cat.t SELECT * FROM p_$seq") }
    spark.sql(s"CALL $cat.system.fast_forward('t', 'pin')").collect()
    val head = wh.branches("t")("pin")._1 // now _published AND referenced
    // main moves past the head; aggressive expiry must still keep it
    (1 to 3).foreach { i =>
      wh.overwrite(Seq((100L + i, s"m$i")).toDF("id", "s")
        .localCheckpoint(true), "t")
    }
    spark.sql(s"CALL $cat.system.expire_snapshots('t', 1)").collect()
    assert(java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"${wh.tablePath("t")}.v$head")),
      "an expired branch head would break every branch read")
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 'pin'")) ==
      Set(1L, 2L, 3L))
  }

  test("INSERT OVERWRITE routes onto the branch too; unknown-branch DML refuses; branch props refuse direct ALTER") {
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'w')").collect()
    val vMain = wh.currentVersion("t").get
    onBranch("w") {
      Seq((5L, "x")).toDF("id", "s").createOrReplaceTempView(s"o_$seq")
      // OVERWRITE replaces the BRANCH content; main provably pinned
      spark.sql(s"INSERT OVERWRITE $cat.t SELECT * FROM o_$seq")
      assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 'w'"))
        == Set(5L))
      assert(wh.currentVersion("t").contains(vMain))
      assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L))
      // a DML against an UNKNOWN branch refuses loudly, never hits main
      val e6 = intercept[Exception] {
        spark.conf.set("spark.graft.wap.branch", "ghost")
        try spark.sql(s"DELETE FROM $cat.t WHERE id = 1")
        finally spark.conf.set("spark.graft.wap.branch", "w")
      }
      assert(e6.getMessage.contains("ghost"), e6.getMessage)
    }
    // the audited replacement publishes exactly
    spark.sql(s"CALL $cat.system.fast_forward('t', 'w')").collect()
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(5L))
    val e4 = intercept[Exception] {
      spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES('branch.x.head'='1')")
    }
    assert(e4.getMessage.contains("create_branch"), e4.getMessage)
    // unknown branch in VERSION AS OF names both namespaces
    val e5 = intercept[Exception] {
      spark.sql(s"SELECT * FROM $cat.t VERSION AS OF 'nope'").collect()
    }
    assert(e5.getMessage.contains("branches:"), e5.getMessage)
  }

  test("WAP DML routing: COW DELETE + UPDATE commit to the branch head; main provably pinned; fast_forward publishes the audited state") {
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'dml')").collect()
    val vMain = wh.currentVersion("t").get
    Seq((3L, "staged")).toDF("id", "s").createOrReplaceTempView(s"dm_$seq")
    onBranch("dml") {
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM dm_$seq")
      spark.sql(s"DELETE FROM $cat.t WHERE id = 1")
      spark.sql(s"UPDATE $cat.t SET s = 'fixed' WHERE id = 2")
      // a no-op delete on the branch commits nothing
      val headBefore = wh.branches("t")("dml")._1
      spark.sql(s"DELETE FROM $cat.t WHERE id = 999")
      assert(wh.branches("t")("dml")._1 == headBefore,
        "matched-nothing branch delete must not bump the head")
    }
    // main: pointer never moved, content untouched
    assert(wh.currentVersion("t").contains(vMain))
    assert(spark.sql(s"SELECT id, s FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet ==
      Set((1L, "base1"), (2L, "base2")))
    // the audit read serves the post-DML branch state
    val audited = spark.sql(s"SELECT id, s FROM $cat.t VERSION AS OF 'dml'")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(audited == Set((2L, "fixed"), (3L, "staged")))
    // publish: main serves exactly the audited state
    spark.sql(s"CALL $cat.system.fast_forward('t', 'dml')").collect()
    assert(spark.sql(s"SELECT id, s FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == audited)
  }

  test("WAP DML routing: branch COW DELETE is file-granular — unmatched head files carry as links; a stats-proven no-match commits nothing") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.sql.functions.col
    val root = tmpDir("branch-fgdel")
    val wh = Warehouse(root, retain = 8)
    wh.overwrite(spark.range(1000).select(col("id"),
      (col("id") * 1.0).as("x")).localCheckpoint(true), "t")
    graft.plans.Maintenance.cluster(spark, wh, "t", Seq("id"), 10)
    val cat = s"bfg${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    wh.createBranch("t", "g")
    val headBefore = wh.branches("t")("g")._1
    val baseNames = {
      import scala.jdk.CollectionConverters._
      val s = Files.list(Paths.get(s"$root/t.v$headBefore"))
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(_.endsWith(".parquet")).toSet finally s.close()
    }
    assert(baseNames.size >= 8)
    onBranch("g") {
      // stats prove absence: nothing commits, the head stays
      spark.sql(s"DELETE FROM $cat.t WHERE id > 100000")
      assert(wh.branches("t")("g")._1 == headBefore,
        "a proven-no-match branch delete must not bump the head")
      spark.sql(s"DELETE FROM $cat.t WHERE id >= 100 AND id <= 120")
    }
    val head = wh.branches("t")("g")._1
    assert(head > headBefore)
    var carried = 0; var fresh = 0
    val s2 = Files.list(Paths.get(s"$root/t.v$head"))
    try s2.iterator().forEachRemaining { p =>
      val n = p.getFileName.toString
      if (n.endsWith(".parquet")) {
        val links = Files.getAttribute(p, "unix:nlink")
          .asInstanceOf[Integer].intValue()
        if (baseNames.contains(n) && links > 1) carried += 1 else fresh += 1
      }
    } finally s2.close()
    assert(carried >= baseNames.size - 2,
      s"branch file-granular delete must carry: carried=$carried " +
        s"fresh=$fresh of ${baseNames.size}")
    assert(spark.sql(
      s"SELECT count(*) FROM $cat.t VERSION AS OF 'g'").head.getLong(0)
      == 979L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
      == 1000L, "main pinned")
  }

  test("WAP DML routing: concurrent branch DML CAS-retries on the head (loser re-reads, both effects land)") {
    val (cat, wh) = fixture()
    wh.createBranch("t", "cc")
    // two rival deletes from two threads: each targets its own row; the
    // loser must retry against the winner's head, not lose it
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    // ONE conf set around both threads (the conf is session-scoped; a
    // per-thread set/unset would strip it under the rival mid-flight)
    onBranch("cc") {
      val fs = Seq(1L, 2L).map(id => pool.submit(new Runnable {
        def run(): Unit = spark.sql(s"DELETE FROM $cat.t WHERE id = $id")
      }))
      try fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      finally pool.shutdownNow()
    }
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 'cc'"))
      == Set.empty[Long])
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L))
  }

  test("randomized branch lifecycle (inserts + DML + publish/abandon) equals a two-ref golden model (seed 19)") {
    import scala.collection.mutable
    import scala.util.Random
    val rng = new Random(19)
    val (cat, wh) = fixture()
    val main = mutable.Map[Long, String](1L -> "base1", 2L -> "base2")
    var branch: Option[mutable.Map[Long, String]] = None
    var nextId = 10L
    def checkRefs(step: Int): Unit = {
      val gotMain = spark.sql(s"SELECT id, s FROM $cat.t").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(gotMain == main.toMap, s"main diverged at step $step")
      branch.foreach { bm =>
        val gotBr = spark.sql(
          s"SELECT id, s FROM $cat.t VERSION AS OF 'wip'").collect()
          .map(r => (r.getLong(0), r.getString(1))).toMap
        assert(gotBr == bm.toMap, s"branch diverged at step $step")
      }
    }
    (1 to 30).foreach { step =>
      rng.nextInt(8) match {
        case 0 => // main insert — only legal while no branch diverges
          // (a diverged branch would stop being fast-forwardable; the
          // model mirrors the WAP discipline: publish before main moves)
          if (branch.isEmpty) {
            val id = nextId; nextId += 1
            Seq((id, s"m$id")).toDF("id", "s")
              .createOrReplaceTempView(s"bm_$seq")
            spark.sql(s"INSERT INTO $cat.t SELECT * FROM bm_$seq")
            main(id) = s"m$id"
          }
        case 1 => // fork (when none)
          if (branch.isEmpty) {
            spark.sql(s"CALL $cat.system.create_branch('t', 'wip')").collect()
            branch = Some(mutable.Map.empty ++ main)
          }
        case 2 | 3 => // stage an insert on the branch
          branch.foreach { bm =>
            val id = nextId; nextId += 1
            Seq((id, s"b$id")).toDF("id", "s")
              .createOrReplaceTempView(s"bb_$seq")
            onBranch("wip") {
              spark.sql(s"INSERT INTO $cat.t SELECT * FROM bb_$seq")
            }
            bm(id) = s"b$id"
          }
        case 4 => // publish: one CAS, branch re-based
          branch.foreach { bm =>
            spark.sql(s"CALL $cat.system.fast_forward('t', 'wip')").collect()
            main.clear(); main ++= bm
          }
        case 5 => // abandon the branch: staged work discarded
          if (branch.isDefined) {
            spark.sql(s"CALL $cat.system.drop_branch('t', 'wip')").collect()
            branch = None
          }
        case 6 => // stage a DELETE on the branch (round-16 DML routing)
          branch.foreach { bm =>
            if (bm.nonEmpty) {
              val victim = bm.keys.minBy(k => (rng.nextInt(1000), k))
              onBranch("wip") {
                spark.sql(s"DELETE FROM $cat.t WHERE id = $victim")
              }
              bm -= victim
            }
          }
        case 7 => // stage an UPDATE on the branch
          branch.foreach { bm =>
            if (bm.nonEmpty) {
              val victim = bm.keys.minBy(k => (rng.nextInt(1000), k))
              onBranch("wip") {
                spark.sql(
                  s"UPDATE $cat.t SET s = 'u$victim' WHERE id = $victim")
              }
              bm(victim) = s"u$victim"
            }
          }
      }
      checkRefs(step)
    }
  }

  test("concurrent branch appends CAS on the head: the loser retries and both rows land") {
    val (_, wh) = fixture()
    wh.createBranch("t", "c")
    val df1 = Seq((10L, "p")).toDF("id", "s").localCheckpoint(true)
    val df2 = Seq((11L, "q")).toDF("id", "s").localCheckpoint(true)
    // interleave: both observe the same head; the second publish must
    // conflict and retry, not lose the first
    import java.util.concurrent.Executors
    val pool = Executors.newFixedThreadPool(2)
    try {
      val fs = Seq(df1, df2).map(df => pool.submit(new Runnable {
        def run(): Unit = wh.retryingConflicts(maxAttempts = 10) {
          wh.ref("t", Some("c")).append(df)
        }
      }))
      fs.foreach(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val snap = wh.branchSnapshotDir("t", "c")
    val got = spark.read.option("recursiveFileLookup", "true")
      .parquet(snap.toString).select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 10L, 11L))
  }

  test("a main commit after an unpublished branch commit never grandfathers the branch version into main history") {
    import java.nio.file.{Files, Paths}
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'g')").collect()
    Seq((3L, "staged")).toDF("id", "s").createOrReplaceTempView(s"g_$seq")
    onBranch("g") { spark.sql(s"INSERT INTO $cat.t SELECT * FROM g_$seq") }
    val brHead = wh.branches("t")("g")._1
    // main commits at a HIGHER version — its durable-grandfather pass
    // must skip the branch dir, which is indistinguishable from
    // pre-marker history (has _SUCCESS, no _published, no .stage
    // sibling) except by its BranchMarker (advice finding, round 16)
    Seq((9L, "main")).toDF("id", "s").createOrReplaceTempView(s"gm_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM gm_$seq")
    assert(!wh.listVersions("t").contains(brHead),
      "unpublished branch version leaked into main snapshots")
    val dir = Paths.get(s"${wh.tablePath("t")}.v$brHead")
    assert(!Files.exists(dir.resolve(Tables.PublishedMarker)),
      "the grandfather loop stamped a branch dir as published")
    assert(Files.exists(dir.resolve(Tables.BranchMarker)))
    // main serves only its own history; the branch still audits exactly
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L, 9L))
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 'g'")) ==
      Set(1L, 2L, 3L))
  }

  test("branchDiff: the audit changelog equals exactly the DML the branch staged, through pending MOR sidecars") {
    import graft.plans.MirrorChangelog
    val root = tmpDir("branch-diff")
    val wh = Warehouse(root, 8)
    wh.overwrite((1L to 10L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(2).localCheckpoint(true), "t")
    Tables.TableProps.write(wh, "t", Map(
      graft.sources.EqDeletes.ModeProp -> "merge-on-read",
      graft.sources.EqDeletes.KeyProp -> "id"))
    val cat = s"br${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
    spark.sql(s"CALL $cat.system.create_branch('t', 'fix')").collect()
    // a fresh fork diffs empty
    assert(MirrorChangelog.branchDiff(spark, wh, "t", "fix", "id")
      .count() == 0L, "base == head must diff empty")
    onBranch("fix") {
      Seq((11L, "new")).toDF("id", "s").createOrReplaceTempView(s"bd_$seq")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM bd_$seq")
      spark.sql(s"DELETE FROM $cat.t WHERE id = 3") // MOR sidecar
      spark.sql(s"UPDATE $cat.t SET s = 'upd' WHERE id = 7") // delta
    }
    // the head still carries its sidecars — the diff reads THROUGH them
    assert(graft.sources.EqDeletes.pending(
      wh.branchSnapshotDir("t", "fix").toString).nonEmpty)
    val d = MirrorChangelog.branchDiff(spark, wh, "t", "fix", "id")
      .collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("s"),
        r.getAs[String](MirrorChangelog.ChangeTypeCol))).toSet
    assert(d == Set(
      (11L, "new", MirrorChangelog.Insert),
      (3L, "v3", MirrorChangelog.Delete),
      (7L, "v7", MirrorChangelog.UpdateBefore),
      (7L, "upd", MirrorChangelog.UpdateAfter)),
      s"audit diff must be exactly the staged DML, got $d")
    // main is untouched; publishing applies exactly the diff
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == (1L to 10L).toSet)
    spark.sql(s"CALL $cat.system.fast_forward('t', 'fix')").collect()
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) ==
      ((1L to 10L).toSet - 3L) + 11L)
    // unknown branch refuses loudly
    intercept[NoSuchElementException] {
      MirrorChangelog.branchDiff(spark, wh, "t", "nope", "id")
    }
    // the SQL face materializes into a view; clobber guards (review
    // finding): the audited table itself and any pre-existing NON-view
    // table refuse; a prior branch_diff view re-overwrites fine
    spark.sql(s"CALL $cat.system.create_branch('t', 'f2')").collect()
    onBranch("f2") {
      Seq((12L, "n2")).toDF("id", "s").createOrReplaceTempView(s"bd2_$seq")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM bd2_$seq")
    }
    val selfClobber = intercept[Exception] {
      spark.sql(s"CALL $cat.system.branch_diff('t', 'f2', 'id', 't')")
        .collect()
    }
    assert(Iterator.iterate(selfClobber: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString(" ").contains("audited table"))
    wh.overwrite(Seq((1L, "real")).toDF("id", "s")
      .localCheckpoint(true), "precious")
    val clobber = intercept[Exception] {
      spark.sql(
        s"CALL $cat.system.branch_diff('t', 'f2', 'id', 'precious')")
        .collect()
    }
    assert(Iterator.iterate(clobber: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString(" ").contains("not a branch_diff view"))
    val counts = spark.sql(
      s"CALL $cat.system.branch_diff('t', 'f2', 'id', 'audit_v')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(counts == Set(("insert", 1L)))
    // re-running over its own prior view is the refresh path
    val counts2 = spark.sql(
      s"CALL $cat.system.branch_diff('t', 'f2', 'id', 'audit_v')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(counts2 == counts)
    // key_col '' defaults to the table's DECLARED cdc.key-column
    // (advice finding: an unvalidated caller key silently
    // join-multiplies the audit an operator approves on)
    val countsDefault = spark.sql(
      s"CALL $cat.system.branch_diff('t', 'f2', '', 'audit_v')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(countsDefault == counts)
    // a key column outside the schema refuses loudly
    val badKey = intercept[Exception] {
      spark.sql(
        s"CALL $cat.system.branch_diff('t', 'f2', 'nope_col', 'audit_v')")
        .collect()
    }
    assert(Iterator.iterate(badKey: Throwable)(_.getCause)
      .takeWhile(_ != null).map(x => Option(x.getMessage).getOrElse(""))
      .mkString(" ").contains("not in the table schema"))
  }

  test("cherrypick replays a diverged branch onto current main: non-conflicting publishes + rebases the ref, a both-sides key refuses naming it") {
    import graft.plans.MirrorChangelog
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'fix')").collect()
    onBranch("fix") {
      Seq((3L, "br")).toDF("id", "s").createOrReplaceTempView(s"cp_$seq")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM cp_$seq")
      spark.sql(s"UPDATE $cat.t SET s = 'fixed' WHERE id = 2")
    }
    // main diverges — fast_forward refuses, cherrypick is the remedy
    Seq((9L, "main")).toDF("id", "s").createOrReplaceTempView(s"cpm_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cpm_$seq")
    intercept[Exception] {
      spark.sql(s"CALL $cat.system.fast_forward('t', 'fix')").collect()
    }
    val out = spark.sql(s"CALL $cat.system.cherrypick('t', 'fix', 'id')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("insert", 1L), ("update_before", 1L),
      ("update_after", 1L)), out.toString)
    // main serves the merged state: its own divergent insert survives,
    // the branch's insert + update both applied
    val got = spark.sql(s"SELECT id, s FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((1L, "base1"), (2L, "fixed"), (3L, "br"),
      (9L, "main")), got.toString)
    // the ref rebased to the published version: merged, diff empty
    val (head, fbase) = wh.branches("t")("fix")
    assert(head == wh.currentVersion("t").get && fbase == head,
      s"rebase must re-point head+base, got ($head, $fbase)")
    assert(MirrorChangelog.branchDiff(spark, wh, "t", "fix", "id")
      .count() == 0L)
    // CONFLICT: branch updates key 9, main deletes it — refuse, name it
    spark.sql(s"CALL $cat.system.create_branch('t', 'bad')").collect()
    onBranch("bad") {
      spark.sql(s"UPDATE $cat.t SET s = 'clash' WHERE id = 9")
    }
    spark.sql(s"DELETE FROM $cat.t WHERE id = 9")
    val vPre = wh.currentVersion("t").get
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.cherrypick('t', 'bad', 'id')").collect()
    }
    val msg = Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" ")
    assert(msg.contains("both main and the branch") && msg.contains("9"),
      msg.take(300))
    assert(wh.currentVersion("t").contains(vPre),
      "a refused cherrypick must publish nothing")
  }

  test("cherrypick on a merge-on-read table applies as ONE equality sidecar + appended images: base files never rewrite") {
    import graft.sources.EqDeletes
    val root = tmpDir("branch-cpmor")
    val wh = Warehouse(root, 8)
    wh.overwrite((1L to 12L).map(i => (i, s"v$i")).toDF("id", "s")
      .repartition(3).localCheckpoint(true), "t")
    Tables.TableProps.write(wh, "t", Map(
      EqDeletes.ModeProp -> "merge-on-read",
      EqDeletes.KeyProp -> "id"))
    val cat = s"br${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
    spark.sql(s"CALL $cat.system.create_branch('t', 'fix')").collect()
    onBranch("fix") {
      spark.sql(s"DELETE FROM $cat.t WHERE id = 4") // MOR sidecar
      spark.sql(s"UPDATE $cat.t SET s = 'upd' WHERE id = 7") // delta
    }
    // main diverges with its own MOR delete (pending sidecar at apply)
    spark.sql(s"DELETE FROM $cat.t WHERE id = 11")
    val preFiles = graft.plans.ZoneMap
      .dataFileCensus(spark, wh.snapshotPath("t")).toSet
    spark.sql(s"CALL $cat.system.cherrypick('t', 'fix', '')").collect()
    val snap = wh.snapshotPath("t")
    assert(preFiles.subsetOf(graft.plans.ZoneMap
        .dataFileCensus(spark, snap).toSet),
      "the MOR cherrypick must carry base files, not rewrite them")
    assert(EqDeletes.pending(snap).size == 2,
      "main's pending sidecar carries + cherrypick adds exactly one")
    val got = spark.sql(s"SELECT id, s FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = (1L to 12L).filterNot(i => i == 4 || i == 11)
      .map(i => (i, if (i == 7) "upd" else s"v$i")).toSet
    assert(got == expect, got.toString)
    // fold == pending
    spark.sql(s"CALL $cat.system.compact('t', 3)").collect()
    assert(spark.sql(s"SELECT id, s FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet == expect)
  }

  test("cherrypick adopts the branch's stream-epoch markers (max-merged with main's): a replayed epoch on the rebased ref stays absorbed") {
    import graft.plans.MirrorChangelog
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'ing')").collect()
    onBranch("ing") {
      Seq((3L, "epoch")).toDF("id", "s").createOrReplaceTempView(s"sm_$seq")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM sm_$seq")
    }
    // the branch head carries a stream's replay position; main carries a
    // LOWER position for the same query and its own other-stream marker
    java.nio.file.Files.writeString(
      wh.branchSnapshotDir("t", "ing").resolve("_stream_epoch_q1"), "5")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      wh.snapshotPath("t"), "_stream_epoch_q1"), "3")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(
      wh.snapshotPath("t"), "_stream_epoch_q2"), "7")
    // main diverges → cherrypick is the publish path
    Seq((9L, "main")).toDF("id", "s").createOrReplaceTempView(s"smm_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM smm_$seq")
    MirrorChangelog.cherrypick(spark, wh, "t", "ing", "id")
    val snap = java.nio.file.Paths.get(wh.snapshotPath("t"))
    assert(java.nio.file.Files.readString(
      snap.resolve("_stream_epoch_q1")).trim == "5",
      "the branch's replay position must ride the apply (max-merged)")
    assert(java.nio.file.Files.readString(
      snap.resolve("_stream_epoch_q2")).trim == "7",
      "main's own stream marker survives the apply")
    // the rebased ref serves the published version: the stream resuming
    // on the branch reads its absorbed position from there
    assert(wh.branches("t")("ing")._1 == wh.currentVersion("t").get)
  }

  test("a crash between cherrypick publish and rebase settles from the journal: the marker'd version rebases the ref; a pre-publish crash just drops it") {
    import graft.plans.MirrorChangelog
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'fix')").collect()
    onBranch("fix") {
      Seq((3L, "br")).toDF("id", "s").createOrReplaceTempView(s"cj_$seq")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM cj_$seq")
    }
    Seq((9L, "main")).toDF("id", "s").createOrReplaceTempView(s"cjm_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cjm_$seq")
    // CRASH inside the recovery window: published, never rebased
    MirrorChangelog.beforeCherrypickRebase =
      () => throw new RuntimeException("crash before rebase")
    try intercept[RuntimeException] {
      MirrorChangelog.cherrypick(spark, wh, "t", "fix", "id")
    } finally MirrorChangelog.beforeCherrypickRebase = () => ()
    // the apply PUBLISHED (main serves the merged state) but the ref is
    // stranded diverged behind a journal
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L, 3L, 9L))
    val strandedHead = wh.branches("t")("fix")._1
    assert(strandedHead != wh.currentVersion("t").get,
      "the crash left the ref un-rebased")
    // ANY later commit settles the journal (the swap-site settlement):
    // the marker'd version rebases the ref
    Seq((10L, "later")).toDF("id", "s").createOrReplaceTempView(s"cjl_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cjl_$seq")
    val (head, fbase) = wh.branches("t")("fix")
    assert(fbase == head && head == wh.currentVersion("t").get - 1,
      s"settlement must rebase the ref to the marker'd apply commit, " +
        s"got ($head, $fbase)")
    // a re-run cherrypick is now a clean no-op-ish replay: its diff is
    // empty against the rebased ref (the branch is merged)
    val (census, _) = MirrorChangelog.cherrypick(spark, wh, "t", "fix", "id")
    assert(census.isEmpty, census.toString)
    // the lineage is queryable: the apply commit reports its provenance
    assert(spark.sql(s"SELECT operation FROM $cat.t.history").collect()
      .map(_.getString(0)).contains("cherrypick(fix)"))
    // PRE-publish crash: a journal with no marker'd commit just drops
    // on the next settlement, refs untouched
    spark.sql(s"CALL $cat.system.create_branch('t', 'b2')").collect()
    val refsBefore = wh.branches("t")("b2")
    wh.writeCherrypickJournal("t", "b2", wh.currentVersion("t").get)
    // heal is two-phase for the pre-publish case: the FIRST commit's
    // settlement must leave the journal (expect == current is exactly
    // what an in-flight cherrypick looks like); the SECOND — pointer
    // provably past it, no marker — drops it
    Seq((11L, "post")).toDF("id", "s").createOrReplaceTempView(s"cjp_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cjp_$seq")
    Seq((12L, "post2")).toDF("id", "s").createOrReplaceTempView(s"cjq_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM cjq_$seq")
    assert(wh.branches("t")("b2") == refsBefore,
      "a journal without a landed apply must never move the ref")
    assert(!Tables.TableProps.read(wh, "t").contains("branch.b2.cp-pending"),
      "the stale journal drops once the pointer provably moved past it")
  }

  test("a rival commit inside the publish->rebase window never steals the cherrypick's version: the ref rebases to the apply commit itself (advice finding)") {
    import graft.plans.MirrorChangelog
    val (cat, wh) = fixture()
    spark.sql(s"CALL $cat.system.create_branch('t', 'fix')").collect()
    onBranch("fix") {
      Seq((3L, "br")).toDF("id", "s").createOrReplaceTempView(s"rv_$seq")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM rv_$seq")
    }
    // main diverges so fast_forward refuses and cherrypick applies
    Seq((9L, "main")).toDF("id", "s").createOrReplaceTempView(s"rvm_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM rvm_$seq")
    // land a RIVAL commit between the cherrypick's publish and its
    // rebase: the returned new_version and the rebased ref must be the
    // cherrypick's OWN apply commit (wh.commit's return), never the
    // rival currentVersion re-read after the fact
    MirrorChangelog.beforeCherrypickRebase = () => {
      Seq((42L, "rival")).toDF("id", "s")
        .createOrReplaceTempView(s"rvr_$seq")
      spark.sql(s"INSERT INTO $cat.t SELECT * FROM rvr_$seq")
    }
    val (_, applied) = try {
      MirrorChangelog.cherrypick(spark, wh, "t", "fix", "id")
    } finally MirrorChangelog.beforeCherrypickRebase = () => ()
    val rivalV = wh.currentVersion("t").get
    assert(applied == rivalV - 1,
      s"cherrypick reported v$applied; its own apply commit is " +
        s"v${rivalV - 1} (the rival took v$rivalV)")
    val (head, fbase) = wh.branches("t")("fix")
    assert(head == applied && fbase == applied,
      s"the ref must rebase to the apply commit v$applied, got " +
        s"($head, $fbase)")
    // nothing lost on either side: branch row, main row, rival row
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) ==
      Set(1L, 2L, 3L, 9L, 42L))
  }

  test("cherrypick keys COMPOSITE tuples: per-component overlap is no conflict, a both-sides TUPLE refuses; the MOR apply sidecars the full tuple") {
    import graft.sources.EqDeletes
    val root = tmpDir("branch-cpcomp")
    val wh = Warehouse(root, 8)
    wh.overwrite((1L to 4L).flatMap(s => (1L to 3L).map(o =>
      (s, o, s"v$s-$o"))).toDF("sid", "oid", "x")
      .repartition(2).localCheckpoint(true), "t")
    Tables.TableProps.write(wh, "t", Map(
      EqDeletes.ModeProp -> "merge-on-read",
      EqDeletes.KeyProp -> "sid,oid"))
    val cat = s"br${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
    spark.sql(s"CALL $cat.system.create_branch('t', 'fix')").collect()
    onBranch("fix") {
      // branch touches tuple (1,1); main will touch (1,2) — they SHARE
      // component sid=1, which must NOT conflict (tuple identity)
      spark.sql(s"UPDATE $cat.t SET x = 'br' WHERE sid = 1 AND oid = 1")
    }
    spark.sql(s"DELETE FROM $cat.t WHERE sid = 1 AND oid = 2")
    val out = spark.sql(s"CALL $cat.system.cherrypick('t', 'fix', '')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(out == Set(("update_before", 1L), ("update_after", 1L)),
      out.toString)
    val got = spark.sql(s"SELECT sid, oid, x FROM $cat.t").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    val expect = (1L to 4L).flatMap(s => (1L to 3L).map(o =>
      (s, o, s"v$s-$o"))).toSet - ((1L, 2L, "v1-2")) -
      ((1L, 1L, "v1-1")) + ((1L, 1L, "br"))
    assert(got == expect, got.toString)
    // the MOR apply stacked ONE tuple sidecar over main's pending one
    assert(EqDeletes.pending(wh.snapshotPath("t")).size == 2)
    // a genuine tuple conflict refuses: branch and main both touch (2,1)
    spark.sql(s"CALL $cat.system.create_branch('t', 'bad')").collect()
    onBranch("bad") {
      spark.sql(s"UPDATE $cat.t SET x = 'clash' WHERE sid = 2 AND oid = 1")
    }
    spark.sql(s"UPDATE $cat.t SET x = 'main' WHERE sid = 2 AND oid = 1")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.system.cherrypick('t', 'bad', '')").collect()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .map(x => Option(x.getMessage).getOrElse("")).mkString(" ")
      .contains("both main and the branch"))
  }

  test("branch DML routes NULL-key matches to a POSITIONAL sidecar on the branch head; main pinned; fast_forward publishes; compact folds") {
    import graft.sources.{EqDeletes, PosDeletes}
    val root = tmpDir("branch-pos")
    val wh = Warehouse(root, 8)
    import org.apache.spark.sql.types._
    // id 3 is NULL-keyed: an equality sidecar cannot identify it
    val rows = spark.createDataFrame(
      java.util.Arrays.asList(
        org.apache.spark.sql.Row(java.lang.Long.valueOf(1L), "keep", 1.0),
        org.apache.spark.sql.Row(java.lang.Long.valueOf(2L), "del", 2.0),
        org.apache.spark.sql.Row(null, "del", 3.0)),
      StructType(Seq(StructField("id", LongType),
        StructField("grp", StringType), StructField("v", DoubleType))))
    wh.overwrite(rows.localCheckpoint(true), "t")
    Tables.TableProps.write(wh, "t", Map(
      EqDeletes.ModeProp -> "merge-on-read",
      EqDeletes.KeyProp -> "id"))
    val cat = s"br${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    spark.conf.set(s"spark.sql.catalog.$cat.retain", "8")
    spark.sql(s"CALL $cat.system.create_branch('t', 'px')").collect()
    val vMain = wh.currentVersion("t").get
    onBranch("px") { spark.sql(s"DELETE FROM $cat.t WHERE grp = 'del'") }
    // the positional sidecar lives on the BRANCH head; main untouched
    assert(wh.currentVersion("t").contains(vMain))
    val head = wh.branchSnapshotDir("t", "px").toString
    assert(PosDeletes.pending(head).size == 1,
      "NULL-key branch delete must stage a positional sidecar")
    assert(EqDeletes.pending(head).isEmpty)
    assert(PosDeletes.pending(wh.snapshotPath("t")).isEmpty,
      "main must not see the staged tombstones")
    // audit read through the tombstones; main serves all three rows
    assert(spark.sql(s"SELECT count(*) FROM $cat.t VERSION AS OF 'px'")
      .head.getLong(0) == 1L)
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 3L)
    spark.sql(s"CALL $cat.system.fast_forward('t', 'px')").collect()
    assert(spark.sql(s"SELECT grp, v FROM $cat.t").collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet ==
      Set(("keep", 1.0)))
    spark.sql(s"CALL $cat.system.compact('t', 2)").collect()
    assert(!EqDeletes.anyPending(wh.snapshotPath("t")))
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) == 1L)
  }

  /** Simulate fast_forward's crash window: journal written, pointer
    * swapped, promotion + final prop write never ran.
    */
  private def crashAfterSwap(wh: Tables.Warehouse, branch: String): Long = {
    import java.nio.file.Paths
    val (head, base) = wh.branches("t")(branch)
    Tables.TableProps.write(wh, "t", Tables.TableProps.read(wh, "t") +
      (s"${Tables.BranchPropPrefix}$branch.ff-pending" -> s"$base:$head"))
    val headDir = Paths.get(s"${wh.tablePath("t")}.v$head")
    wh.io.atomicPointerSwap(Paths.get(wh.tablePath("t")),
      headDir.getFileName,
      scratch = Paths.get(s"${wh.tablePath("t")}.ptr$head"))
    head
  }

  test("fast_forward replay heals a crash between the pointer swap and the marker promotion") {
    import java.nio.file.{Files, Paths}
    val (cat, wh) = fixture()
    wh.createBranch("t", "r")
    wh.ref("t", Some("r")).append(Seq((3L, "x")).toDF("id", "s")
      .localCheckpoint(true))
    wh.ref("t", Some("r")).append(Seq((4L, "y")).toDF("id", "s")
      .localCheckpoint(true))
    val (_, base) = wh.branches("t")("r")
    // the crash window: journal + pointer swap landed, the marker
    // promotion and the branch-base prop write did not
    val head = crashAfterSwap(wh, "r")
    val headDir = Paths.get(s"${wh.tablePath("t")}.v$head")
    // the head is already served via the pointer-target clause; the
    // intermediates stay hidden until healed
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L, 3L, 4L))
    assert(Files.exists(headDir.resolve(Tables.BranchMarker)))
    // the re-run settles its own journal and completes the promotion
    assert(wh.fastForward("t", "r") == head)
    assert(!Files.exists(headDir.resolve(Tables.BranchMarker)))
    assert(Files.exists(headDir.resolve(Tables.PublishedMarker)))
    // the audited intermediate joined main history
    assert(wh.listVersions("t").contains(head - 1))
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF ${head - 1}"))
      == Set(1L, 2L, 3L))
    // branch re-based at its own head; a plain re-run is the no-op hop
    assert(wh.branches("t")("r") == (head, head))
    assert(wh.fastForward("t", "r") == head)
    assert(base < head) // the fixture really exercised a multi-commit fork
    assert(!Tables.TableProps.read(wh, "t").keys
      .exists(_.endsWith(".ff-pending")), "journal settled")
  }

  test("a main commit after a crashed fast_forward settles the journal: the stranded intermediates still join main history") {
    import java.nio.file.{Files, Paths}
    val (cat, wh) = fixture()
    wh.createBranch("t", "s2")
    wh.ref("t", Some("s2")).append(Seq((3L, "x")).toDF("id", "s")
      .localCheckpoint(true))
    wh.ref("t", Some("s2")).append(Seq((4L, "y")).toDF("id", "s")
      .localCheckpoint(true))
    val head = crashAfterSwap(wh, "s2")
    // a MAIN commit lands BEFORE any fast_forward re-run — the advice
    // scenario: main now matches neither base nor head, so the old
    // replay clause refused forever and the intermediates stayed
    // BranchMarker'd (hidden from time travel) with stale branch props
    Seq((9L, "main")).toDF("id", "s").createOrReplaceTempView(s"sm_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM sm_$seq")
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) ==
      Set(1L, 2L, 3L, 4L, 9L))
    // the commit's settlement promoted the branch's lineage
    val headDir = Paths.get(s"${wh.tablePath("t")}.v$head")
    assert(!Files.exists(headDir.resolve(Tables.BranchMarker)))
    assert(Files.exists(headDir.resolve(Tables.PublishedMarker)))
    assert(wh.listVersions("t").contains(head - 1),
      "the audited intermediate joined main history via settlement")
    assert(wh.branches("t")("s2") == (head, head), "branch re-based")
    assert(!Tables.TableProps.read(wh, "t").keys
      .exists(_.endsWith(".ff-pending")), "journal settled")
    // and a later fast_forward of the re-based branch works normally
    wh.ref("t", Some("s2")).append(Seq((5L, "z")).toDF("id", "s")
      .localCheckpoint(true))
    intercept[IllegalArgumentException] { wh.fastForward("t", "s2") }
    () // main moved past the re-base: correctly not fast-forwardable
  }

  test("a crash BEFORE the pointer swap leaves no trace: the journal is dropped and the fast_forward never took effect") {
    val (cat, wh) = fixture()
    wh.createBranch("t", "s3")
    wh.ref("t", Some("s3")).append(Seq((3L, "x")).toDF("id", "s")
      .localCheckpoint(true))
    val (head, base) = wh.branches("t")("s3")
    // journal written, swap never ran (pointer still at the fork base)
    Tables.TableProps.write(wh, "t", Tables.TableProps.read(wh, "t") +
      (s"${Tables.BranchPropPrefix}s3.ff-pending" -> s"$base:$head"))
    // main commit settles: journal dropped, branch intact, main history
    // untouched by the branch
    Seq((9L, "main")).toDF("id", "s").createOrReplaceTempView(s"s3m_$seq")
    spark.sql(s"INSERT INTO $cat.t SELECT * FROM s3m_$seq")
    assert(ids(spark.sql(s"SELECT id FROM $cat.t")) == Set(1L, 2L, 9L))
    assert(!Tables.TableProps.read(wh, "t").keys
      .exists(_.endsWith(".ff-pending")), "journal dropped")
    assert(wh.branches("t")("s3") == (head, base),
      "the never-effective fast_forward left the branch exactly as forked")
    assert(ids(spark.sql(s"SELECT id FROM $cat.t VERSION AS OF 's3'")) ==
      Set(1L, 2L, 3L))
  }
}
