package graft

import org.apache.spark.sql.functions._

import graft.sources.{EqDeletes, GraftCatalog, Tables}
import graft.sources.Tables.Warehouse

/** Measured copy-on-write vs merge-on-read row-level UPDATE at scale
  * (SCALE.md evidence): the same 1%-of-rows correction on the same
  * N-row table, once through the group-based COW rewrite and once
  * through the delta write ([[graft.sources.MorDeltaOperation]]) —
  * wall time plus the byte/file census each commit actually wrote.
  *
  * Args: [rows] (default 2,000,000)
  */
object DeltaStress {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(2000000L)
    val spark = Harness.session("graft-delta-stress")
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._

    def newVersionFootprint(wh: Warehouse, t: String,
        prev: Set[String]): (Long, Long) = {
      val snap = Paths.get(wh.snapshotPath(t))
      val w = Files.walk(snap)
      try {
        val fresh = w.iterator().asScala
          .filter(p => Files.isRegularFile(p) &&
            p.getFileName.toString.endsWith(".parquet"))
          .filter { p =>
            // hard-linked carries share the inode with the previous
            // version; a genuinely written file does not
            !prev.contains(Files.getAttribute(p, "unix:ino").toString)
          }.toSeq
        (fresh.size.toLong, fresh.map(Files.size).sum)
      } finally w.close()
    }
    def inodes(wh: Warehouse, t: String): Set[String] = {
      val snap = Paths.get(wh.snapshotPath(t))
      val w = Files.walk(snap)
      try w.iterator().asScala
        .filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
        .map(p => Files.getAttribute(p, "unix:ino").toString).toSet
      finally w.close()
    }

    def run(mor: Boolean): (Double, Long, Long) = {
      val root = Files.createTempDirectory(
        s"graft_dstress_${if (mor) "mor" else "cow"}").toString
      val wh = Warehouse(root, retain = 2)
      val cat = s"ds${if (mor) "m" else "c"}"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      wh.overwrite(spark.range(n).select(col("id"),
        (col("id") % 97).cast("double").as("v"),
        concat(lit("payload-"), col("id")).as("s"))
        .repartition(16), "t")
      graft.plans.Maintenance.declareClustering(wh, "t", Seq("id"),
        bloomKeys = Seq("id"), targetFiles = Some(16))
      graft.plans.Maintenance.cluster(spark, wh, "t", Seq("id"), 16,
        bloomKeys = Seq("id"))
      if (mor) Tables.TableProps.write(wh, "t",
        Tables.TableProps.read(wh, "t") +
          (EqDeletes.ModeProp -> "merge-on-read") +
          (EqDeletes.KeyProp -> "id"))
      val before = inodes(wh, "t")
      val t0 = System.nanoTime()
      // the 1% correction: every id divisible by 100
      spark.sql(s"UPDATE $cat.t SET v = v + 1000.0 WHERE id % 100 = 0")
      val sec = (System.nanoTime() - t0) / 1e9
      val (files, bytes) = newVersionFootprint(wh, "t", before)
      // correctness spot check, then cleanup
      val got = spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE v >= 1000.0").head.getLong(0)
      require(got == n / 100, s"expected ${n / 100} updated rows, got $got")
      Tables.deleteRecursively(Paths.get(root))
      (sec, files, bytes)
    }

    val (cowSec, cowFiles, cowBytes) = run(mor = false)
    val (morSec, morFiles, morBytes) = run(mor = true)
    println(s"""{"rows":$n,"updated":${n / 100},""" +
      s""""cow":{"sec":${f"$cowSec%.2f"},"files_written":$cowFiles,"bytes_written":$cowBytes},""" +
      s""""mor_delta":{"sec":${f"$morSec%.2f"},"files_written":$morFiles,"bytes_written":$morBytes}}""")

    // DELTA-MERGE runtime target narrowing (round-15 verdict item 3):
    // a point-MERGE on a clustered MOR table must read ~the files its
    // matched keys live in, not the table — the WriteDelta dynamic-
    // pruning rule + the runtime-filterable target scan, measured.
    {
      val root = Files.createTempDirectory("graft_dstress_merge").toString
      val wh = Warehouse(root, retain = 2)
      val cat = "dsn"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      wh.overwrite(spark.range(n).select(col("id"),
        (col("id") % 97).cast("double").as("v"),
        concat(lit("payload-"), col("id")).as("s"))
        .repartition(16), "t")
      graft.plans.Maintenance.declareClustering(wh, "t", Seq("id"),
        bloomKeys = Seq("id"), targetFiles = Some(16))
      graft.plans.Maintenance.cluster(spark, wh, "t", Seq("id"), 16,
        bloomKeys = Seq("id"))
      Tables.TableProps.write(wh, "t",
        Tables.TableProps.read(wh, "t") +
          (EqDeletes.ModeProp -> "merge-on-read") +
          (EqDeletes.KeyProp -> "id"))
      graft.sources.MorDeltaOperation.lastScanSelection = None
      // 100 matched keys from one clustered neighborhood
      spark.range(500, 600).select(col("id"), lit(-1.0).as("v"))
        .createOrReplaceTempView("dsn_src")
      val t0 = System.nanoTime()
      spark.sql(s"""MERGE INTO $cat.t t USING dsn_src s ON t.id = s.id
        WHEN MATCHED THEN UPDATE SET v = s.v""")
      val sec = (System.nanoTime() - t0) / 1e9
      val sel = graft.sources.MorDeltaOperation.lastScanSelection
      val got = spark.sql(
        s"SELECT count(*) FROM $cat.t WHERE v = -1.0").head.getLong(0)
      require(got == 100, s"expected 100 merged rows, got $got")
      Tables.deleteRecursively(Paths.get(root))
      println(s"""{"delta_merge_narrowing":{"rows":$n,"data_files":16,""" +
        s""""matched_keys":100,"sec":${f"$sec%.2f"},""" +
        s""""target_files_scanned":${sel.fold(16)(_.size)}}}""")
    }

    // READ-SIDE tax (round-15 verdict items 1+5): full-scan wall time
    // with pending sidecars, vs the clean vectorized baseline. The
    // catalog read splices [[graft.sources.EqDeletes.logicalMorRead]]
    // ([[graft.sources.SpliceMorReads]]): clean files stay one vectorized
    // relation and only the census files pass the key probe, so the tax
    // must track AFFECTED bytes — sidecars whose censuses touch one of
    // 16 files should cost ~1/16 of probing the whole table. Then the
    // DEBT CURVE: scan time at 1/4/16/64 STACKED sidecars (each affected
    // group probes the union of its sets), the measurement behind the
    // `write.delete.fold-every` default.
    {
      val root = Files.createTempDirectory("graft_dstress_read").toString
      val wh = Warehouse(root, retain = 2)
      val cat = "dsr"
      spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
      spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
      wh.overwrite(spark.range(n).select(col("id"),
        (col("id") % 97).cast("double").as("v"),
        concat(lit("payload-"), col("id")).as("s"))
        .repartition(16), "t")
      graft.plans.Maintenance.declareClustering(wh, "t", Seq("id"),
        bloomKeys = Seq("id"), targetFiles = Some(16))
      graft.plans.Maintenance.cluster(spark, wh, "t", Seq("id"), 16,
        bloomKeys = Seq("id"))
      Tables.TableProps.write(wh, "t",
        Tables.TableProps.read(wh, "t") +
          (EqDeletes.ModeProp -> "merge-on-read") +
          (EqDeletes.KeyProp -> "id"))
      def scanSec(reps: Int = 3): Double =
        (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          spark.sql(s"SELECT sum(v), count(s) FROM $cat.t").collect()
          (System.nanoTime() - t0) / 1e9
        }.min
      def affectedFiles(): Int = {
        val snap = wh.snapshotPath("t")
        val pend = EqDeletes.pending(snap)
        val all = graft.plans.ZoneMap.dataFileCensus(spark, snap)
        all.count(f => pend.exists(_.census.contains(f)))
      }
      val clean = scanSec()
      val curve = scala.collection.mutable.ArrayBuffer[(Int, Double, Int)]()
      var committed = 0
      // stacked tiny deletes: each hits a narrow id range (the table is
      // clustered by id, so each census names ~1 file); checkpoints at
      // 1/4/16/64 pending
      Seq(1, 4, 16, 64).foreach { k =>
        while (committed < k) {
          val lo = committed * 1000
          spark.sql(
            s"DELETE FROM $cat.t WHERE id >= $lo AND id < ${lo + 500}")
          committed += 1
        }
        curve += ((k, scanSec(), affectedFiles()))
      }
      // worst case: a delete whose keys SPREAD across every file (the
      // min/max census keeps all 16) — the whole table pays the
      // key probe; with vectorized decode and the probe inside
      // whole-stage codegen this should sit near the clean scan, not
      // multiples
      val spread = (0 until 16).map(i => i * (n / 16) + 63)
      spark.sql(s"DELETE FROM $cat.t WHERE id IN (${spread.mkString(",")})")
      val allAffected = scanSec()
      val afAll = affectedFiles()
      Tables.deleteRecursively(Paths.get(root))
      val pts = curve.map { case (k, s, af) =>
        s"""{"pending":$k,"scan_sec":${f"$s%.2f"},"affected_files":$af}"""
      }.mkString("[", ",", "]")
      println(s"""{"read_side":{"rows":$n,"data_files":16,""" +
        s""""clean_scan_sec":${f"$clean%.2f"},"curve":$pts,""" +
        s""""all_affected":{"scan_sec":${f"$allAffected%.2f"},""" +
        s""""affected_files":$afAll}}}""")
    }

    // POSITIONAL deletes (round-16 verdict item 4): a predicate DELETE
    // whose matched set exceeds MaxKeys commits (file, ordinal)
    // tombstones instead of a COW rewrite — commit bytes track the
    // CHANGED rows (8 B per tombstone), not the surviving table. The
    // same delete measured through both plans. Needs n comfortably past
    // the MaxKeys trigger.
    if (n > EqDeletes.MaxKeys * 3 / 2) {
      def bigDelete(mor: Boolean)
          : (Double, Long, Long, Double, Long, Long) = {
        val root = Files.createTempDirectory(
          s"graft_dstress_pos_${if (mor) "mor" else "cow"}").toString
        val wh = Warehouse(root, retain = 2)
        val cat = s"dsp${if (mor) "m" else "c"}"
        spark.conf.set(s"spark.sql.catalog.$cat",
          classOf[GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
        wh.overwrite(spark.range(n).select(col("id"),
          (col("id") % 97).cast("double").as("v"),
          concat(lit("payload-"), col("id")).as("s"))
          .repartition(16), "t")
        if (mor) Tables.TableProps.write(wh, "t", Map(
          EqDeletes.ModeProp -> "merge-on-read",
          EqDeletes.KeyProp -> "id"))
        val matched = graft.sources.EqDeletes.MaxKeys + n / 10
        val t0 = System.nanoTime()
        spark.sql(s"DELETE FROM $cat.t WHERE id < $matched")
        val sec = (System.nanoTime() - t0) / 1e9
        // commit footprint: bytes genuinely written into the new version
        // (tombstone .pos arrays on the MOR path; rewritten parquet on
        // COW — hard-linked carries excluded by their shared inode)
        val snap = Paths.get(wh.snapshotPath("t"))
        val prevInodes = {
          val w = Files.walk(Paths.get(root))
          try w.iterator().asScala
            .filter(p => Files.isRegularFile(p) &&
              !p.startsWith(snap))
            .map(p => Files.getAttribute(p, "unix:ino").toString).toSet
          finally w.close()
        }
        val w = Files.walk(snap)
        val bytes = try w.iterator().asScala
          .filter(Files.isRegularFile(_))
          .filter(p => !prevInodes.contains(
            Files.getAttribute(p, "unix:ino").toString))
          .map(Files.size).sum
        finally w.close()
        val got = spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0)
        require(got == n - matched, s"want ${n - matched} rows, got $got")
        if (mor) require(
          graft.sources.PosDeletes.pending(wh.snapshotPath("t")).size == 1,
          "the oversize matched set must route positionally")
        // round 18 (I30): a delta UPDATE stacks OVER the pending
        // tombstones — its commit must stay O(changed rows) while every
        // base file and the tombstone arrays carry by link (new bytes
        // measured by inode novelty, same discipline as above)
        var updSec = 0.0
        var updBytes = 0L
        var updRows = 0L
        if (mor) {
          val preInodes = {
            val w = Files.walk(Paths.get(root))
            try w.iterator().asScala.filter(Files.isRegularFile(_))
              .map(p => Files.getAttribute(p, "unix:ino").toString).toSet
            finally w.close()
          }
          updRows = (matched until n).count(_ % 1000 == 0).toLong
          val t1 = System.nanoTime()
          spark.sql(s"UPDATE $cat.t SET v = v + 1 WHERE id % 1000 = 0")
          updSec = (System.nanoTime() - t1) / 1e9
          val snap2 = Paths.get(wh.snapshotPath("t"))
          val w2 = Files.walk(snap2)
          updBytes = try w2.iterator().asScala
            .filter(Files.isRegularFile(_))
            .filter(p => !preInodes.contains(
              Files.getAttribute(p, "unix:ino").toString))
            .map(Files.size).sum
          finally w2.close()
          require(
            graft.sources.PosDeletes.pending(snap2.toString).size == 1 &&
              graft.sources.EqDeletes.pending(snap2.toString).size == 1,
            "the delta must stack beside the carried tombstones")
          val got2 = spark.sql(s"SELECT count(*) FROM $cat.t")
            .head.getLong(0)
          require(got2 == n - matched,
            s"delta-over-positional count drift: $got2")
        }
        Tables.deleteRecursively(Paths.get(root))
        (sec, matched, bytes, updSec, updBytes, updRows)
      }
      val (cowSec, matched, cowBytes, _, _, _) = bigDelete(mor = false)
      val (posSec, _, posBytes, updSec, updBytes, updRows) =
        bigDelete(mor = true)
      println(s"""{"positional_delete":{"rows":$n,"matched":$matched,""" +
        s""""cow":{"sec":${f"$cowSec%.2f"},"bytes_written":$cowBytes},""" +
        s""""positional":{"sec":${f"$posSec%.2f"},"bytes_written":$posBytes},""" +
        s""""delta_over_positional":{"sec":${f"$updSec%.2f"},""" +
        s""""updated_rows":$updRows,"bytes_written":$updBytes}}}""")
    }

    // keyedSurvivors PROBE COST at the caps (round-16 watch item): the
    // driver-side probe is O(files × keys) bloom bit tests at its worst
    // — the FULL ManifestBloomMaxFiles manifest × the 50k key cap with
    // every key IN RANGE but ABSENT (the range probe keeps every file,
    // each bloom scans the full key list). The round-17 guards:
    // range-before-bloom ordering and a parallel per-file loop past a
    // work budget.
    {
      val root = Files.createTempDirectory("graft_dstress_probe").toString
      val wh = Warehouse(root, retain = 2)
      val files = graft.plans.ZoneMap.ManifestBloomMaxFiles
      // even ids only: odd probes are in-range but absent everywhere
      wh.overwrite(spark.range(n).select((col("id") * 2).as("id"),
        (col("id") % 97).cast("double").as("v"))
        .repartition(16), "t")
      graft.plans.Maintenance.declareClustering(wh, "t", Seq("id"),
        bloomKeys = Seq("id"), targetFiles = Some(files))
      graft.plans.Maintenance.cluster(spark, wh, "t", Seq("id"), files,
        bloomKeys = Seq("id"))
      // in-range odd keys, uniformly spread: the RANGE evidence keeps
      // every file, so every file pays its bloom — the saturation shape
      // (50k foreign probes against ~1k-key blooms false-positive with
      // near-certainty per file; the documented degrade-to-whole-table)
      val step = math.max(1L, n * 2 / 50000 / 2) * 2
      val keys: Seq[Any] = (0 until 50000).map(i =>
        java.lang.Long.valueOf(i * step + 1))
      def probeSec(ks: Seq[Any]): (Double, Int) = {
        val t0 = System.nanoTime()
        val s = graft.plans.ZoneMap.keyedSurvivors(spark,
          wh.snapshotPath("t"), "id", ks,
          Some(org.apache.spark.sql.types.LongType))
        ((System.nanoTime() - t0) / 1e9, s.fold(-1)(_.size))
      }
      probeSec(keys.take(10)) // warm the manifest read
      // min of 5 timed probes: one wall-clock sample on a shared host
      // swings past the bound on either side of it
      val (worstSec, worstKept) = Seq.fill(5)(probeSec(keys)).minBy(_._1)
      // the round-17 bound: even the at-caps saturation probe stays
      // sub-second on the driver (range-first ordering + parallel rows)
      require(worstSec < 1.0,
        f"at-caps probe took $worstSec%.2f s (bound: 1 s)")
      // OUT-of-range keys: the binary-search range probe excludes every
      // file before any bloom runs — the cheap-evidence-first ordering
      val outKeys: Seq[Any] = (0 until 50000).map(i =>
        java.lang.Long.valueOf(n * 2 + 1 + i * 2L))
      val (outSec, outKept) = probeSec(outKeys)
      require(outKept == 0, s"out-of-range keys kept $outKept files")
      // the common case: 1000 PRESENT keys from one clustered region
      val present: Seq[Any] = (0 until 1000).map(i =>
        java.lang.Long.valueOf(i * 2L))
      val (typSec, typKept) = probeSec(present)
      Tables.deleteRecursively(Paths.get(root))
      println(s"""{"probe_cost":{"manifest_files":$files,""" +
        s""""saturated_keys":50000,"saturated_sec":${f"$worstSec%.3f"},""" +
        s""""saturated_survivors":$worstKept,""" +
        s""""outofrange_sec":${f"$outSec%.3f"},""" +
        s""""present_keys":1000,"present_sec":${f"$typSec%.3f"},""" +
        s""""present_survivors":$typKept}}""")
    }
    spark.stop()
  }
}
