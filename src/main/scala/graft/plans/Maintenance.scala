package graft.plans

import java.nio.file.Paths

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{SaveMode, SparkSession}

import graft.sources.Tables.Warehouse

/** Table maintenance for the append-only changelog (SURVEY §7.5 "changelog
  * compaction"): streaming appends produce one small file per micro-batch;
  * at 100 TB that's millions of files whose listing/footer overhead
  * dominates scans. Compaction rewrites a table to a bounded file count.
  */
object Maintenance {

  /** Inside a rewrite's optimistic-retry attempt, AFTER pinning the
    * snapshot: every rewrite path folds pending sidecars at ENTRY, but
    * a merge-on-read DML that commits a fresh sidecar between that fold
    * and the attempt's pin makes the pinned snapshot's raw files NOT
    * the logical content — a raw rewrite would resurrect the retracted
    * images / deleted keys and silently DROP the sidecar (round-20
    * soak finding: the objectstore interleave lost exactly one delta
    * MERGE's retractions this way). Fold the straggler and throw
    * conflict-shaped so `retryingConflicts` re-attempts on the folded
    * snapshot.
    */
  /** Test seam: fired at the top of each rewrite retry attempt, between
    * the caller's entry fold and the attempt's snapshot pin — the exact
    * window a rival merge-on-read DML can land a sidecar in (the
    * round-20 soak race). Production: no-op.
    */
  private[graft] var beforeRewritePin: () => Unit = () => ()

  private def guardPendingSidecars(spark: SparkSession, wh: Warehouse,
      table: String, path: String): Unit =
    if (graft.sources.EqDeletes.anyPending(path)) {
      graft.sources.EqDeletes.fold(spark, wh, table)
      throw new java.util.ConcurrentModificationException(
        s"merge-on-read sidecars landed on '$table' during rewrite " +
          "planning; folded — retrying on the folded snapshot")
    }

  /** True when `path` holds a key-bucket-partitioned layout (`_kb=N/`
    * subdirectories). Partition discovery and `recursiveFileLookup` are
    * mutually exclusive in Spark, so the layout decides how to read.
    */
  private def isBucketPartitioned(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isDirectory &&
        s.getPath.getName.startsWith(s"${PartitionedMirror.BucketCol}="))
  }

  /** Rewrite `table` into `targetFiles` files (atomically: stage + swap).
    * At scale this runs per partition on a schedule, bounded by a target
    * file size instead of a count; the stage-and-swap commit is the same.
    */
  def compact(spark: SparkSession, wh: Warehouse, table: String, targetFiles: Int): Unit = {
    // a merge-on-read table has its OWN compaction (delta fold + horizon
    // swap); a naive recursive rewrite here would union base versions
    // with delta files and destroy the layout — delegate instead
    if (MorMirror.storedConfig(wh, table).isDefined) {
      MorMirror.compact(spark, wh, table)
      return
    }
    // a hidden-time-partitioned append table compacts WITHIN its
    // (day, batch) partitions — the flat recursive rewrite would destroy
    // the day layout (and with it every time-pruned read) and flatten the
    // batch subdirs the replay contract depends on
    if (wh.timePartitionCol(table).isDefined && wh.currentVersion(table).isEmpty) {
      compactTimePartitioned(spark, wh, table)
      return
    }
    // pin the current snapshot (resolved version dir): a stream commit
    // landing mid-rewrite must not swap files out from under the read;
    // the commit below is conditional on this version still being
    // current (optimistic CAS), so a concurrent stream merge wins over
    // the rewrite — and retryingConflicts re-reads the stream's NEW
    // version and re-applies, so a shared-warehouse deployment (ingest
    // JVM + scheduled maintenance JVM) needs no external serialization
    wh.retryingConflicts() {
      beforeRewritePin()
      val expect = wh.currentVersion(table)
      val path = wh.snapshotPath(table)
      // A bucket-partitioned mirror must be read via partition discovery
      // (recursiveFileLookup disables it and would silently flatten the
      // layout); flat/batch-subdir tables need the recursive lookup.
      val bucketed = isBucketPartitioned(spark, path)
      // pending sidecars (equality AND positional) are served by the
      // LOGICAL read and consumed by this very rewrite in ONE commit —
      // the pre-r21 fold-then-rewrite shape paid two full read+write
      // passes (plus two localCheckpoint materializations) per compact.
      // A sidecar landing mid-attempt moves the pointer, the CAS fails,
      // and the retry reads it through the same logical view — the
      // round-20 fold-straggler race class cannot drop it. Bucketed
      // layouts never carry sidecars (the sidecar writer refuses nested
      // layouts), so the raw partition-discovery read stays exact.
      val pendingAny = graft.sources.EqDeletes.anyPending(path)
      if (pendingAny && bucketed) {
        // defensive: the sidecar writer refuses nested layouts, so this
        // combination cannot be produced by the engine — but if a hand-
        // placed sidecar exists, fold it rather than resurrect its keys
        graft.sources.EqDeletes.fold(spark, wh, table)
        throw new java.util.ConcurrentModificationException(
          s"folded unexpected sidecars on bucketed '$table'; retrying")
      }
      val raw = graft.sources.EqDeletes.logicalMorRead(spark, path,
        graft.sources.Tables.TableProps.read(wh, table))
      // widened read: batch/bucket dirs may straddle a numeric widening
      // (mergeSchema refuses mixed widths) on top of additive evolution.
      // materialize BEFORE the commit ONLY for a legacy (real-directory)
      // table, whose commit migrates the directory aside before the
      // callback runs — a lazy read through the old path would execute
      // against moved files. A versioned (pointer) layout reads an
      // IMMUTABLE published version dir: the write streams straight from
      // it with no extra materialization pass, and the rare rival-GC
      // vanishing-snapshot failure is conflict-shaped (isSnapshotRace)
      // and retried by retryingConflicts.
      val df =
        if (wh.currentVersion(table).isEmpty) raw.localCheckpoint(true)
        else raw
      // capture markers NOW — the commit may migrate a legacy directory
      // aside before the callback runs (see readRootMarkers)
      val markers = readRootMarkers(path)
      // atomic publish: the rewrite fills a fresh version dir reading
      // from the still-live current version, then the pointer swaps (no
      // window where the table is absent or half-written)
      wh.commit(table, expectCurrent = expect) { staged =>
        if (bucketed) {
          // hash-repartition on the bucket column: each bucket lands in
          // one task, so the rewrite emits one file per bucket directory
          df.repartition(targetFiles,
              org.apache.spark.sql.functions.col(PartitionedMirror.BucketCol))
            .write.mode(SaveMode.Overwrite)
            .partitionBy(PartitionedMirror.BucketCol).parquet(staged)
        } else {
          df.repartition(targetFiles).write.mode(SaveMode.Overwrite).parquet(staged)
        }
        // CARRY the snapshot's marker files into the rewrite: the IVM agg
        // tables keep their replay cursor (_ivm_batch_id) and the feed
        // consumer its position (_feed_cursor) INSIDE the version dir so
        // data+marker swap atomically — a rewrite that dropped them would
        // silently reset replay idempotence and feed bootstrap state
        // (review finding). `_SUCCESS` and the publication stamp are the
        // commit machinery's own and are excluded.
        writeRootMarkers(markers, staged)
      }
    }
  }

  /** Iceberg's `write.target-file-size-bytes` default (512 MB): the
    * size-targeted compaction grain when none is declared.
    */
  val DefaultTargetBytes: Long = 512L * 1024 * 1024

  /** Size-targeted bin-packing compaction (round 20) — the engine's
    * `rewrite_data_files(strategy => binpack)`: at 100 TB the right file
    * COUNT is derived from data volume, not declared, so this targets
    * BYTES (Iceberg's 512 MB default) and derives the count. Files
    * already within [0.75×, 1.25×] of `targetBytes` hard-link into the
    * staged version verbatim (the incremental-recluster carry
    * discipline — right-sized data never rewrites, so steady-state cost
    * tracks CHURN, not table size); everything else (small-file debris,
    * oversized files) rewrites into `ceil(repackBytes / targetBytes)`
    * outputs. No-ops WITHOUT a new version when repacking cannot improve
    * the layout (every misfit file already sits alone in its own bin).
    *
    * Layout dispatch matches [[compact]]: merge-on-read → delta fold,
    * hidden-time-partitioned → in-place per-partition merge,
    * key-bucketed → per-bucket rewrite (the bucket modulus, not bytes,
    * is that layout's grain — one file per bucket). As with [[compact]],
    * a `_zonemap` manifest is NOT carried through a flat repack (reads
    * degrade to the census fallback until the next declared-clustering
    * tick); the maintenance tick routes declared-clustered tables to the
    * sort-order rewrite instead of here.
    *
    * @return true when a rewrite/fold landed; false = already packed
    */
  def compactToSize(spark: SparkSession, wh: Warehouse, table: String,
      targetBytes: Long = DefaultTargetBytes): Boolean = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    if (MorMirror.storedConfig(wh, table).isDefined) {
      MorMirror.compact(spark, wh, table)
      return true
    }
    if (wh.timePartitionCol(table).isDefined &&
        wh.currentVersion(table).isEmpty) {
      compactTimePartitioned(spark, wh, table)
      return true
    }
    if (isBucketPartitioned(spark, wh.snapshotPath(table))) {
      val p = new org.apache.hadoop.fs.Path(wh.snapshotPath(table))
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val buckets = fs.listStatus(p).count(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"${PartitionedMirror.BucketCol}="))
      compact(spark, wh, table, math.max(1, buckets))
      return true
    }
    // pending sidecars fold FIRST (their own committed rewrite) — the
    // flat repack below reads raw files and would resurrect deleted keys
    graft.sources.EqDeletes.fold(spark, wh, table)
    if (wh.currentVersion(table).isEmpty) {
      // legacy real-directory table: the commit migrates the directory
      // aside, so carried hard-links from the old path would dangle —
      // first compaction migrates everything through the count path,
      // with the count DERIVED from the data volume
      val census = sizedCensus(spark, wh.snapshotPath(table))
      if (census.isEmpty) return false
      val n = math.max(1L,
        (census.map(_._2).sum + targetBytes - 1) / targetBytes).toInt
      compact(spark, wh, table, n)
      return true
    }
    var did = false
    wh.retryingConflicts() {
      did = attemptSizeCompact(spark, wh, table, targetBytes)
    }
    did
  }

  /** Recursive data-file census WITH sizes (batch subdirs included;
    * metadata — `_zonemap`, markers, `_SUCCESS`, hidden dirs — excluded).
    * Planning-scale: one recursive listing, no footers opened.
    */
  private def sizedCensus(spark: SparkSession,
      path: String): Seq[(String, Long)] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Seq.empty
    val qualRoot = fs.makeQualified(p).toString
    val buf = scala.collection.mutable.ArrayBuffer[(String, Long)]()
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toString.stripPrefix(qualRoot)
        .stripPrefix("/")
      if (!rel.split('/').exists(s =>
          s.startsWith("_") || s.startsWith(".")))
        buf += ((rel, st.getLen))
    }
    buf.toSeq.sortBy(_._1)
  }

  private def attemptSizeCompact(spark: SparkSession, wh: Warehouse,
      table: String, targetBytes: Long): Boolean = {
    beforeRewritePin()
    val expect = wh.currentVersion(table)
    val path = wh.snapshotPath(table)
    guardPendingSidecars(spark, wh, table, path)
    val files = sizedCensus(spark, path)
    if (files.isEmpty) return false
    val (lo, hi) = (targetBytes * 3 / 4, targetBytes * 5 / 4)
    val (keep, repack) = files.partition { case (_, len) =>
      len >= lo && len <= hi
    }
    if (repack.isEmpty) return false
    val repackBytes = repack.map(_._2).sum
    val outFiles =
      math.max(1L, (repackBytes + targetBytes - 1) / targetBytes).toInt
    // every misfit already alone in its own bin and nothing oversized to
    // split: a rewrite would reproduce the same grain — leave the
    // version alone (at scale an unconditional rewrite is a
    // full-warehouse pass per cron tick)
    if (repack.size <= outFiles && repack.forall(_._2 <= hi)) return false
    // widened read — repacked files may straddle additive evolution or a
    // numeric widening. No materialization: this attempt only runs on
    // VERSIONED layouts (compactToSize routes legacy dirs through the
    // count path, whose commit is the one that migrates the directory
    // aside), so the write streams from an immutable published version
    // dir; a rival-GC vanishing-snapshot failure is conflict-shaped and
    // retried by retryingConflicts.
    val df = graft.sources.SchemaEvolution.readWidened(spark,
      repack.map { case (rel, _) => s"$path/$rel" })
    val markers = readRootMarkers(path)
    wh.commit(table, expectCurrent = expect) { staged =>
      df.repartition(outFiles).write.mode(SaveMode.Overwrite).parquet(staged)
      keep.foreach { case (rel, _) =>
        val dst = Paths.get(s"$staged/$rel")
        java.nio.file.Files.createDirectories(dst.getParent)
        linkOrCopy(wh, Paths.get(s"$path/$rel"), dst)
      }
      writeRootMarkers(markers, staged)
    }
    true
  }

  /** Clustered rewrite + zone-map manifest — the engine's
    * `rewrite_data_files(sort_order)` (Iceberg ships sort-order rewrites
    * for the same reason: min/max stats only prune when values cluster).
    * Rewrites `table` so each output file owns a narrow range of `dims`
    * (one dim: range sort; several NUMERIC dims: min-max-scaled
    * [[ZOrder]] interleave, every dim bounded per file), then builds the
    * [[ZoneMap]] manifest INSIDE the same staged version dir — manifest
    * and layout publish in one atomic pointer swap and time-travel
    * together. Same optimistic-CAS skeleton as [[compact]], so a
    * concurrent ingest commit wins and the rewrite retries on its output.
    *
    * Layout guards: a merge-on-read table's base and a key-bucketed COW
    * mirror are PARTITIONED BY KEY BUCKET — that layout is the upsert
    * contract (O(delta) bucket-pruned merges); silently re-clustering it
    * by analytics dims would trade write cost for scan cost behind the
    * operator's back. Both are refused loudly: materialize a clustered
    * analytic PROJECTION of the mirror instead (read -> write to a new
    * table -> cluster that).
    */
  def cluster(spark: SparkSession, wh: Warehouse, table: String,
      dims: Seq[String], targetFiles: Int, bits: Int = 12,
      bloomKeys: Seq[String] = Nil, bloomBits: Int = ZoneMap.DefaultBloomBitsCeiling,
      manifestBloomMaxFiles: Int = ZoneMap.ManifestBloomMaxFiles): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    require(dims.nonEmpty, "cluster needs at least one dimension")
    // fold pending eq-delete sidecars first: the sort rewrite renames
    // every file, which would orphan their censuses
    graft.sources.EqDeletes.fold(spark, wh, table)
    if (MorMirror.storedConfig(wh, table).isDefined)
      throw new UnsupportedOperationException(
        s"'$table' is merge-on-read: its base layout is the key-bucket " +
          "merge contract. Cluster a materialized projection instead.")
    wh.retryingConflicts() {
      beforeRewritePin()
      val expect = wh.currentVersion(table)
      val path = wh.snapshotPath(table)
      guardPendingSidecars(spark, wh, table, path)
      if (isBucketPartitioned(spark, path))
        throw new UnsupportedOperationException(
          s"'$table' is key-bucket-partitioned (upsert layout). " +
            "Cluster a materialized projection instead.")
      // the clustered rewrite consumes df 3-4 times (emptiness probe,
      // stats agg, repartitionByRange's range-sampling pass — which
      // re-evaluates the z-order bit-interleave expression — and the
      // write): materializing once beats re-scanning, measured on q215
      // (2.4 s checkpointed vs 3.4 s lazy). Legacy layouts additionally
      // NEED it (the commit migrates the real directory aside).
      val df = graft.sources.SchemaEvolution.readTableWidened(spark, path)
        .localCheckpoint(true)
      val missing = dims.filterNot(df.columns.contains)
      require(missing.isEmpty, s"cluster dims not in '$table': $missing")
      val markers = readRootMarkers(path)
      // an empty table has no layout to improve, and the manifest build
      // cannot infer a schema from a rewrite that emits no files.
      // (plain `if`, NOT a `return`: a non-local return from this
      // by-name block would unwind retryingConflicts via exception)
      if (!df.isEmpty) {
        wh.commit(table, expectCurrent = expect) { staged =>
          writeClusteredStaged(spark, df, staged, dims, targetFiles, bits,
            bloomKeys, bloomBits, manifestBloomMaxFiles)
          writeRootMarkers(markers, staged)
        }
      }
    }
  }

  /** The clustered-write kernel shared by [[cluster]] (rewrite in place)
    * and [[materializeProjection]] (derived table): order `df` by the
    * cluster key, write `targetFiles` range-owned files into `staged`,
    * and build the [[ZoneMap]] manifest there — all inside the caller's
    * staged commit, so layout + stats publish atomically.
    *
    * Bloom keys live at TWO levels with a crossover:
    *  - every data file carries parquet NATIVE footer blooms on each key
    *    column (`parquet.bloom.filter.enabled#k`), sized to the expected
    *    keys per file — row-group membership bits evaluated by the parquet
    *    reader itself whenever an equality/IN predicate is pushed down, at
    *    a few KB per footer;
    *  - at or below `manifestBloomMaxFiles` files the manifest ALSO gets
    *    per-file bloom bitsets, which [[ZoneMap.lookupRead]] probes at
    *    planning time to skip whole files before any footer opens.
    * Past the crossover the manifest stays min/max-only (bits × files
    * makes manifest blooms planning-heavy — the documented ~10k-file
    * ceiling) and point lookups ride the footer blooms instead: every
    * footer is opened but only matching row groups read data pages —
    * measured in [[graft.FooterBloomStress]].
    */
  private def writeClusteredStaged(spark: SparkSession,
      df: org.apache.spark.sql.DataFrame, staged: String, dims: Seq[String],
      targetFiles: Int, bits: Int, bloomKeys: Seq[String],
      bloomBits: Int,
      manifestBloomMaxFiles: Int = ZoneMap.ManifestBloomMaxFiles): Unit = {
    import org.apache.spark.sql.functions.{col, count, lit}
    var zScaling: Option[Seq[(String, Double, Double)]] = None
    // ONE stats pass computes everything the rewrite needs up front:
    // the row count (bloom ndv sizing) and, multi-dim, the min/max
    // bounds — pre-r21 this was up to two separate full actions on an
    // un-materialized df (plus the caller's isEmpty probe)
    val needBounds = dims.size > 1
    val needCount = bloomKeys.nonEmpty
    val stats: Option[org.apache.spark.sql.Row] =
      if (!needBounds && !needCount) None
      else {
        val aggCols = Seq(count(lit(1)).cast("long").as("_n")) ++
          (if (needBounds) dims.flatMap(d => Seq(
            org.apache.spark.sql.functions.min(col(d)).cast("double"),
            org.apache.spark.sql.functions.max(col(d)).cast("double")))
          else Nil)
        Some(df.agg(aggCols.head, aggCols.tail: _*).collect()(0))
      }
    val ordering: org.apache.spark.sql.Column =
      if (dims.size == 1) col(dims.head)
      else {
        dims.foreach { d =>
          require(df.schema(d).dataType.isInstanceOf[
              org.apache.spark.sql.types.NumericType],
            s"multi-dim clustering interleaves bits: '$d' must be numeric " +
              "(single-dim range sort supports any orderable type)")
        }
        // min-max scale each dim into the bit domain so the interleave
        // preserves locality for ANY numeric range (raw low-bit masking
        // would scatter values wider than 2^bits)
        val st = stats.get
        val bounds = dims.zipWithIndex.map { case (d, i) =>
          // all-null dim: no stats, no locality to keep
          def at(j: Int) = if (st.isNullAt(j)) 0.0 else st.getDouble(j)
          (d, at(1 + 2 * i), at(1 + 2 * i + 1))
        }
        zScaling = Some(bounds)
        zOrderColumn(bounds, bits)
      }
    val zc = "_graft_cluster_key"
    val base = df.withColumn(zc, ordering)
      .repartitionByRange(targetFiles, col(zc))
      .sortWithinPartitions(col(zc))
      .drop(zc)
      .write.mode(SaveMode.Overwrite)
    val writer =
      if (bloomKeys.isEmpty) base
      else {
        // expected distinct keys per file: row count is an upper bound
        // (over-sizing only wastes footer bytes, never correctness);
        // floored so tiny rewrites still get a usable filter
        val ndvPerFile =
          math.max(1024L, stats.get.getLong(0) / math.max(1, targetFiles))
        bloomKeys.foldLeft(base) { (w, k) =>
          w.option(s"parquet.bloom.filter.enabled#$k", "true")
            .option(s"parquet.bloom.filter.expected.ndv#$k", ndvPerFile.toString)
        }
      }
    writer.parquet(staged)
    ZoneMap.buildAndSave(spark, staged, dims,
      if (targetFiles <= manifestBloomMaxFiles) bloomKeys else Nil, bloomBits)
    // persist the z-order scaling next to the manifest (round-19 verdict
    // item 2): an incremental re-cluster can only splice new files into
    // the existing layout when their Morton codes are COMPARABLE — i.e.
    // computed under the SAME min-max scaling this full rewrite used
    zScaling.foreach(b => writeZScaling(staged, bits, b))
  }

  /** `_zonemap/_scaling`: the min-max scaling a multi-dim (z-order)
    * cluster rewrote under — `bits` plus the per-dim (lo, hi) in
    * declared order. Underscore-prefixed so every parquet listing
    * ignores it; carried with the manifest by the same file-level carry.
    */
  private[plans] val ZScalingFile = "_scaling"

  private[plans] def writeZScaling(dataPath: String, bits: Int,
      bounds: Seq[(String, Double, Double)]): Unit = {
    val lines = s"bits=$bits" +: bounds.map { case (d, lo, hi) =>
      s"dim=$d\tlo=$lo\thi=$hi"
    }
    java.nio.file.Files.write(
      Paths.get(dataPath, ZoneMap.ManifestDir, ZScalingFile),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  private[plans] def readZScaling(dataPath: String)
      : Option[(Int, Seq[(String, Double, Double)])] = {
    val f = Paths.get(dataPath, ZoneMap.ManifestDir, ZScalingFile)
    if (!java.nio.file.Files.isRegularFile(f)) return None
    try {
      val lines = java.nio.file.Files.readAllLines(f).asScala
        .map(_.trim).filter(_.nonEmpty).toSeq
      val bits = lines.head.stripPrefix("bits=").toInt
      val bounds = lines.tail.map { l =>
        val kv = l.split("\t").map(_.split("=", 2)).map(a => a(0) -> a(1)).toMap
        (kv("dim"), kv("lo").toDouble, kv("hi").toDouble)
      }
      Some((bits, bounds))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** The z-order ordering column under a FIXED scaling — shared by the
    * full rewrite (which derives the scaling) and the incremental splice
    * (which reuses the stored one, keeping codes comparable).
    */
  private def zOrderColumn(bounds: Seq[(String, Double, Double)],
      bits: Int): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val mask = (1L << bits) - 1
    val scaled = bounds.map { case (d, lo, hi) =>
      if (hi <= lo) lit(0L)
      else ((col(d).cast("double") - lit(lo)) / lit(hi - lo) * lit(mask.toDouble))
        .cast("long")
    }
    ZOrder.zValue(scaled, bits)
  }

  /** Driver-side twin of [[zOrderColumn]] for one point (a manifest
    * corner): scale each coordinate exactly as the Column does, then
    * [[ZOrder.zScalar]].
    */
  private def zOfCorner(vals: Seq[Double],
      bounds: Seq[(String, Double, Double)], bits: Int): Long = {
    val mask = (1L << bits) - 1
    ZOrder.zScalar(bounds.zip(vals).map { case ((_, lo, hi), v) =>
      if (hi <= lo) 0L
      else ((v - lo) / (hi - lo) * mask.toDouble).toLong
    }, bits)
  }

  /** Incremental re-cluster — the Iceberg `rewrite_data_files` file-filter
    * analog: when a clustered table's manifest census is stale only
    * because FILES WERE ADDED (a writer appended without re-sorting),
    * rewriting the whole table ([[cluster]]) pays O(table) for O(churn)
    * disorder. This rewrites ONLY the added files plus the existing files
    * whose declared-dim range they overlap; every other file is carried
    * into the new version UNTOUCHED (hard-linked — zero data movement;
    * an object-store deployment would carry them by manifest reference
    * instead) and keeps its manifest row verbatim, so maintenance cost
    * tracks churn, not table size.
    *
    * Scope guards — each `false` return means "take the full
    * [[cluster]] path", never "skip maintenance":
    *  - versioned tables only (the legacy-directory migration belongs to
    *    the full path);
    *  - no files removed since the manifest (a deletion invalidates
    *    carried stats wholesale);
    *  - added files must match the table schema, and the manifest must
    *    carry the exact stats/bloom columns this rewrite extends;
    *  - multi-dim (z-order) layouts additionally need the STORED
    *    min-max scaling (`_zonemap/_scaling`, written by every full
    *    z-order rewrite) and the appended data to FIT INSIDE it —
    *    Morton codes are only comparable under one scaling, so an
    *    append that extends any dim's range falls back loudly to the
    *    full rewrite, which re-derives the scaling (round-19 verdict
    *    item 2: pre-19 every z-ordered append paid the full rewrite).
    *
    * The rewrite region's output may still overlap an untouched file
    * when an overlapping file's own span was wide — stats stay exact and
    * pruning correct, just one notch less tight than a full re-sort; the
    * periodic full [[cluster]] remains the perfect-layout reset. Commit
    * is the same optimistic-CAS stage-and-swap as [[cluster]], manifest
    * merged (carried rows + freshly computed rows for the rewritten
    * region) inside the same atomic publish, root markers carried.
    *
    * @return true when the table is freshly clustered via the cheap path
    *         (including "census already matches — nothing to do");
    *         false when the caller must run the full rewrite
    */
  def clusterIncremental(spark: SparkSession, wh: Warehouse, table: String,
      dims: Seq[String], bloomKeys: Seq[String] = Nil): Boolean = {
    if (dims.isEmpty || MorMirror.storedConfig(wh, table).isDefined)
      return false
    graft.sources.EqDeletes.fold(spark, wh, table) // censuses die on rename
    var handled = false
    wh.retryingConflicts() {
      handled = attemptIncrementalCluster(spark, wh, table, dims, bloomKeys)
    }
    handled
  }

  private def attemptIncrementalCluster(spark: SparkSession, wh: Warehouse,
      table: String, dims: Seq[String], bloomKeys: Seq[String]): Boolean = {
    import org.apache.spark.sql.functions.{coalesce, col, count, lit, max, min, sum}
    beforeRewritePin()
    val expect = wh.currentVersion(table)
    if (expect.isEmpty) return false
    val path = wh.snapshotPath(table)
    guardPendingSidecars(spark, wh, table, path)
    if (isBucketPartitioned(spark, path)) return false
    if (!ZoneMap.hasManifest(spark, path)) return false
    // z-order (multi-dim): the stored scaling is the comparability
    // contract — absent (pre-19 manifest) or mismatched dims → full path
    val zInfo: Option[(Int, Seq[(String, Double, Double)])] =
      if (dims.size == 1) None
      else readZScaling(path) match {
        case Some((bits, bounds)) if bounds.map(_._1) == dims =>
          Some((bits, bounds))
        case _ => return false
      }
    val m = ZoneMap.manifest(spark, path).localCheckpoint(true)
    val mCols = m.columns.toSet
    // the manifest must carry exactly the stats/bloom schema the merged
    // manifest will extend — anything else (pre-bloom manifest, changed
    // key declaration) re-derives cleanly via the full path
    val manifestBlooms =
      mCols.filter(_.startsWith("bloom_")).map(_.stripPrefix("bloom_"))
    val bloomMode = manifestBlooms.nonEmpty
    if (bloomMode && manifestBlooms != bloomKeys.toSet) return false
    if (!(Set("file", "rows") ++ dims.flatMap(d =>
        Seq(s"min_$d", s"max_$d", s"nulls_$d"))).subsetOf(mCols))
      return false
    val manifestFiles = m.select("file").collect().map(_.getString(0)).toSet
    val disk = ZoneMap.listDataFiles(spark, path).toSet
    if ((manifestFiles -- disk).nonEmpty) return false
    val added = (disk -- manifestFiles).toSeq.sorted
    if (added.isEmpty) return true // census matches: already fresh
    val newData = spark.read.parquet(added.map(f => s"$path/$f"): _*)
    if (dims.exists(!newData.columns.contains(_))) return false
    val untouchedSample = (disk -- added).headOption
    if (untouchedSample.exists(f =>
        spark.read.parquet(s"$path/$f").schema != newData.schema)) return false
    // the disorder region + every existing file that intersects it:
    //  - 1-dim: [min, max] of the added files on the cluster dim,
    //    intersected with each file's stored range (all-null added files
    //    have no range and splice next to nothing);
    //  - z-order: [minZ, maxZ] of the added ROWS under the STORED
    //    scaling, intersected with each file's conservative z-range from
    //    its manifest corners (Morton is monotone per coordinate, so a
    //    stats box's z-min/z-max sit at its all-lo/all-hi corners); a
    //    NULL corner stat (all-null dim in that file) rewrites
    //    conservatively. First, the containment guard: added data outside
    //    the stored bounds makes codes incomparable → full path.
    val overlapFiles: Set[String] = zInfo match {
      case None =>
        val dim = dims.head
        val r = newData.agg(min(col(dim)), max(col(dim))).collect()(0)
        if (r.isNullAt(0)) Set.empty
        else m.filter(coalesce(!(col(s"max_$dim") < lit(r.get(0)) ||
            col(s"min_$dim") > lit(r.get(1))), lit(false)))
          .select("file").collect().map(_.getString(0)).toSet
      case Some((zBits, bounds)) =>
        val stats = newData.agg(
          min(col(dims.head).cast("double")),
          (dims.flatMap(d => Seq(min(col(d).cast("double")),
            max(col(d).cast("double")))).tail): _*).collect()(0)
        val inBounds = dims.indices.forall { i =>
          stats.isNullAt(2 * i) || {
            val (_, lo, hi) = bounds(i)
            stats.getDouble(2 * i) >= lo && stats.getDouble(2 * i + 1) <= hi
          }
        }
        if (!inBounds) return false
        if (dims.indices.forall(i => stats.isNullAt(2 * i))) Set.empty
        else {
          val zc = zOrderColumn(bounds, zBits)
          val zr = newData.agg(min(zc), max(zc)).collect()(0)
          if (zr.isNullAt(0)) Set.empty
          else {
            val (zLo, zHi) = (zr.getLong(0), zr.getLong(1))
            m.select(col("file") +: dims.flatMap(d =>
              Seq(col(s"min_$d").cast("double"),
                col(s"max_$d").cast("double"))): _*)
              .collect().filter { r =>
                val anyNull = dims.indices.exists(i =>
                  r.isNullAt(1 + 2 * i) || r.isNullAt(2 + 2 * i))
                anyNull || {
                  val fLo = zOfCorner(
                    dims.indices.map(i => r.getDouble(1 + 2 * i)), bounds, zBits)
                  val fHi = zOfCorner(
                    dims.indices.map(i => r.getDouble(2 + 2 * i)), bounds, zBits)
                  !(fHi < zLo || fLo > zHi)
                }
              }.map(_.getString(0)).toSet
          }
        }
    }
    val rewriteRel = added.toSet ++ overlapFiles
    val untouched = (disk -- rewriteRel).toSeq.sorted
    // keep the table's established rows-per-file grain for the region
    val g = m.agg(sum(col("rows")), count(lit(1))).collect()(0)
    val grain = math.max(1L, g.getLong(0) / math.max(1L, g.getLong(1)))
    val data = spark.read.parquet(rewriteRel.toSeq.sorted
      .map(f => s"$path/$f"): _*).localCheckpoint(true)
    val rewriteRows = data.count()
    if (rewriteRows == 0L) {
      // the added files hold ZERO rows (an empty append's part-file
      // debris): rewriting them would emit an empty output whose
      // manifest row statsRows cannot census (no rows to group), leaving
      // the manifest permanently stale. Drop the debris instead: commit
      // the untouched files + the carried manifest verbatim — content
      // identical, census fresh again.
      val markers0 = readRootMarkers(path)
      val carried0 = m.filter(col("file").isInCollection(untouched))
      wh.commit(table, expectCurrent = expect) { staged =>
        untouched.foreach(rel =>
          linkOrCopy(wh, Paths.get(s"$path/$rel"), Paths.get(s"$staged/$rel")))
        ZoneMap.writeManifest(carried0, staged, spreadBlooms = bloomMode)
        zInfo.foreach { case (zBits, bounds) =>
          writeZScaling(staged, zBits, bounds) }
        writeRootMarkers(markers0, staged)
      }
      return true
    }
    val outFiles = math.max(1L, (rewriteRows + grain - 1) / grain).toInt
    // the HASH COUNT must match the carried rows (one probe literal per
    // manifest); bits are per-file NDV-adaptive, so mixed sizes across
    // carried and fresh rows are by design — only the ceiling is fixed
    val (bits, hashes) =
      if (bloomMode)
        ZoneMap.manifestBloomConfig(m, bloomKeys.head)
          .map { case (_, h) => (ZoneMap.DefaultBloomBitsCeiling, h) }
          .getOrElse((ZoneMap.DefaultBloomBitsCeiling, 5))
      else (ZoneMap.DefaultBloomBitsCeiling, 5)
    val markers = readRootMarkers(path)
    val carried = m.filter(col("file").isInCollection(untouched))
    val sortCol = zInfo match {
      case None => col(dims.head)
      case Some((zBits, bounds)) => zOrderColumn(bounds, zBits)
    }
    wh.commit(table, expectCurrent = expect) { staged =>
      val zc = "_graft_cluster_key"
      val base = data.withColumn(zc, sortCol)
        .repartitionByRange(outFiles, col(zc))
        .sortWithinPartitions(col(zc))
        .drop(zc)
        .write.mode(SaveMode.Overwrite)
      val writer =
        if (bloomKeys.isEmpty) base
        else {
          val ndv = math.max(1024L, rewriteRows / outFiles)
          bloomKeys.foldLeft(base) { (w, k) =>
            w.option(s"parquet.bloom.filter.enabled#$k", "true")
              .option(s"parquet.bloom.filter.expected.ndv#$k", ndv.toString)
          }
        }
      writer.parquet(staged)
      // census the rewrite outputs BEFORE the carried links land
      val outAbs = ZoneMap.listDataFiles(spark, staged).map(f => s"$staged/$f")
      val newRows = ZoneMap.statsRows(spark, staged,
        spark.read.parquet(outAbs: _*), dims,
        if (bloomMode) bloomKeys else Nil, bits, hashes)
      untouched.foreach(rel =>
        linkOrCopy(wh, Paths.get(s"$path/$rel"), Paths.get(s"$staged/$rel")))
      ZoneMap.writeManifest(carried.unionByName(newRows), staged,
        spreadBlooms = bloomMode)
      // the scaling carries verbatim: this splice wrote UNDER it, so the
      // next append keeps the comparability contract
      zInfo.foreach { case (zBits, bounds) =>
        writeZScaling(staged, zBits, bounds) }
      writeRootMarkers(markers, staged)
    }
    true
  }

  /** Zero-copy carry of an untouched data file into a staged version dir
    * (same filesystem: a hard link; a filesystem that refuses gets a
    * plain copy — correctness identical, cost O(bytes)).
    */
  private def linkOrCopy(wh: Warehouse, src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit =
    wh.io.linkOrCopy(src, dst)

  val ProjectionSourceProp = "projection.source"
  val ProjectionStampProp = "projection.source-stamp"
  /** Declared column projection (comma-joined; absent = all columns).
    * Persisted so a SCHEDULED refresh rebuilds the schema its creator
    * declared — without it the maintenance tick passed no `cols` and the
    * projection silently widened back to every source column (advice
    * finding).
    */
  val ProjectionColsProp = "projection.cols"

  /** Visible state of ANY table, layout-dispatched: merge-on-read fold,
    * key-bucketed COW read, or plain versioned/flat read.
    */
  def readState(spark: SparkSession, wh: Warehouse, table: String)
      : org.apache.spark.sql.DataFrame =
    if (MorMirror.storedConfig(wh, table).isDefined) MorMirror.read(spark, wh, table)
    else if (PartitionedMirror.storedBuckets(wh, table).isDefined)
      PartitionedMirror.read(spark, wh, table)
    else wh.read(spark, table)

  /** Cheap change fingerprint of `table`'s visible state, used to skip
    * projection refreshes. MOR: (base version, fold horizon, pending
    * delta count) — the horizon is monotone and deltas only accumulate
    * between horizon advances, so the triple changes iff the state can
    * have. Flat/versioned: the version pointer. Key-bucketed COW commits
    * by IN-PLACE partition overwrite (no pointer), so it has no cheap
    * stamp — `None` means "cannot prove unchanged, always refresh".
    */
  def sourceStamp(wh: Warehouse, table: String): Option[String] =
    if (MorMirror.storedConfig(wh, table).isDefined) {
      val base = Warehouse(wh.tablePath(table), io = wh.io)
        .currentVersion("base")
        .getOrElse(-1L)
      Some(s"mor:$base:${MorMirror.foldHorizon(wh, table)}:" +
        s"${MorMirror.pendingDeltas(wh, table)}")
    } else if (PartitionedMirror.storedBuckets(wh, table).isDefined) None
    else wh.currentVersion(table).map(v => s"flat:$v")

  /** Materialized READ-OPTIMIZED projection of a write-optimized table —
    * the deployment answer to [[cluster]]'s refusal on MOR/bucketed
    * layouts: the mirror keeps its key-bucket layout for O(delta)
    * upserts, and analytics reads come from a derived flat table,
    * clustered on the query dims with a zone-map manifest, refreshed by
    * the maintenance role. ONE staged commit per refresh: project ->
    * clustered write -> manifest, published by the pointer swap (never a
    * flat write followed by a second rewrite).
    *
    * Refresh is stamped: the source's [[sourceStamp]] is recorded in the
    * projection's properties, and a refresh whose stamp matches (and
    * whose manifest is still fresh) is a no-op — so a cron tick against
    * an idle mirror costs two metadata reads, not an O(mirror) rewrite.
    * The full rewrite per CHANGED refresh is the honest trade for a flat
    * read-optimized layout; the incremental alternative (fold the
    * mirror changelog into the projection) would re-introduce the very
    * key-layout the projection exists to escape.
    *
    * Concurrency: two refreshers racing (or a source commit landing
    * mid-refresh) can publish a projection one state behind its stamp —
    * never corrupt, at worst stale by one hop — and the next tick's
    * stamp mismatch repairs it; a crash between the data commit and the
    * props write only loses the SKIP optimization (the refresh re-runs).
    * Both lean on the props contract that each key has a single writer
    * role (the maintenance role owns projection.*).
    *
    * @param cols  optional column projection (empty = all columns)
    * @return true when a refresh ran, false when provably current
    */
  def materializeProjection(spark: SparkSession, wh: Warehouse,
      source: String, dest: String, dims: Seq[String],
      bloomKeys: Seq[String] = Nil, targetFiles: Int = 8,
      cols: Seq[String] = Nil, bits: Int = 12,
      bloomBits: Int = ZoneMap.DefaultBloomBitsCeiling): Boolean = {
    import org.apache.spark.sql.functions.col
    import graft.sources.Tables.TableProps
    require(source != dest, "a projection cannot shadow its source")
    val stamp = sourceStamp(wh, source)
    val props = TableProps.read(wh, dest)
    val current = stamp.isDefined &&
      props.get(ProjectionStampProp) == stamp &&
      wh.currentVersion(dest).isDefined &&
      ZoneMap.isFresh(spark, wh.snapshotPath(dest))
    if (current) return false
    val state0 = readState(spark, wh, source)
    val state = (if (cols.nonEmpty) state0.select(cols.map(col): _*) else state0)
      .localCheckpoint(true) // pin: the staged write must not re-read a
                             // source a concurrent commit may be swapping
    // an empty source has nothing to lay out (and a zero-file rewrite has
    // no schema for the manifest build); the projection keeps its previous
    // state — same contract as cluster's empty-table no-op
    if (state.isEmpty) return false
    wh.retryingConflicts() {
      wh.commit(dest) { staged =>
        writeClusteredStaged(spark, state, staged, dims, targetFiles, bits,
          bloomKeys, bloomBits)
      }
    }
    declareClustering(wh, dest, dims, bloomKeys, Some(targetFiles))
    TableProps.write(wh, dest, TableProps.read(wh, dest) +
      (ProjectionSourceProp -> source) ++
      (if (cols.nonEmpty) Some(ProjectionColsProp -> cols.mkString(","))
       else None) ++
      stamp.map(ProjectionStampProp -> _))
    true
  }

  /** Declare `table`'s clustering layout in its properties so the
    * scheduled-maintenance role ([[graft.MaintenanceMain]]) maintains it:
    * on each tick a stale-or-missing manifest triggers [[cluster]] with
    * these dims (a fresh manifest skips the rewrite). The declaration is
    * table metadata — the same self-describing pattern as the bucket and
    * cdc.* props, so maintenance needs no per-table config of its own.
    */
  def declareClustering(wh: Warehouse, table: String, dims: Seq[String],
      bloomKeys: Seq[String] = Nil, targetFiles: Option[Int] = None): Unit = {
    require(dims.nonEmpty, "declareClustering needs at least one dimension")
    import graft.sources.Tables.TableProps
    val base = TableProps.read(wh, table) + (ClusterDimsProp -> dims.mkString(","))
    val withBloom =
      if (bloomKeys.isEmpty) base - ClusterBloomProp
      else base + (ClusterBloomProp -> bloomKeys.mkString(","))
    TableProps.write(wh, table, targetFiles match {
      // the file budget is part of the declared layout: without it the
      // maintenance tick would re-cluster a 64-file table to ITS default
      // and silently change read granularity
      case Some(n) => withBloom + (ClusterFilesProp -> n.toString)
      case None => withBloom
    })
  }

  val ClusterDimsProp = "cluster.dims"
  val ClusterBloomProp = "cluster.bloom-keys"
  val ClusterFilesProp = "cluster.target-files"

  /** The declared clustering of `table`, if any:
    * (dims, bloomKeys, declared file budget).
    */
  def declaredClustering(wh: Warehouse, table: String)
      : Option[(Seq[String], Seq[String], Option[Int])] = {
    val p = graft.sources.Tables.TableProps.read(wh, table)
    def split(s: String) = s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    p.get(ClusterDimsProp).map(split).filter(_.nonEmpty)
      .map(dims => (dims, p.get(ClusterBloomProp).map(split).getOrElse(Nil),
        p.get(ClusterFilesProp).flatMap(_.toIntOption)))
  }

  /** Root-level `_`-prefixed marker FILES (not dirs) of a snapshot,
    * excluding the write/commit machinery's own, read INTO MEMORY (they
    * are cursor-sized). Captured BEFORE `wh.commit` because for a legacy
    * (real-directory) table the commit migrates the directory aside
    * first — a copy-from-path inside the commit callback was a silent
    * no-op for exactly that first-compaction case (advice finding).
    */
  private def readRootMarkers(from: String): Seq[(String, Array[Byte])] =
    graft.sources.Tables.readRootMarkers(from) // shared: every rewriter carries

  /** Carry captured markers into a staged rewrite (see [[readRootMarkers]]). */
  private def writeRootMarkers(markers: Seq[(String, Array[Byte])],
      to: String): Unit = graft.sources.Tables.writeRootMarkers(markers, to)

  /** In-place small-file merge of a hidden-time-partitioned append table:
    * every (p_day, p_batch) partition coalesces to one file via a hash
    * repartition on the partition keys + dynamic partition overwrite.
    * Partition BOUNDARIES are preserved exactly — day pruning keeps
    * working and a replayed micro-batch still overwrites precisely its
    * own partitions — so compaction here merges the many shuffle-width
    * part files WITHIN each batch (32 -> 1 per partition), never across
    * batches. In-place and idempotent: a crashed overwrite leaves the
    * original partition intact (the dynamic-overwrite staging commit is
    * per-partition) and a re-run heals.
    */
  private def compactTimePartitioned(spark: SparkSession, wh: Warehouse,
      table: String): Unit = {
    import org.apache.spark.sql.functions.col
    // a mid-evolution tree migrates FIRST (day-dir-atomic, churn =
    // un-migrated days) so the unified-discovery read below sees one
    // consistent partition schema — compaction IS the background rewrite
    // Iceberg's spec evolution promises
    migrateTimeGranularity(spark, wh, table)
    val partCols = timeLayoutCols(wh, table)
    val path = wh.snapshotPath(table)
    // a just-created (SQL) time-partitioned table has no batches yet —
    // nothing to merge, and an empty-dir read cannot infer a schema
    if (graft.sources.Tables.listFilesExcluding(path, None)
        .forall(!_.endsWith(".parquet"))) return
    val df = spark.read.option("basePath", path).option("mergeSchema", "true")
      .parquet(path)
      .repartition(partCols.map(col): _*)
      .localCheckpoint(true) // materialize BEFORE overwriting the same dirs
    wh.io match {
      // no rename on the store: the same staged delete-then-CopyObject
      // per-partition replace the epoch commit uses
      case graft.sources.ObjectStoreIO =>
        wh.partitionedOverwriteNoRename(df, table, partCols)
      case _ =>
        df.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*)
          .parquet(path)
    }
  }

  /** The hidden-time layout's partition columns per declared grain. */
  private def timeLayoutCols(wh: Warehouse, table: String): Seq[String] = {
    import graft.sources.Tables.{PartBatchCol, PartDayCol, PartHourCol, PartMonthCol}
    wh.timeGranularity(table) match {
      case "hour" => Seq(PartDayCol, PartHourCol, PartBatchCol)
      case "month" => Seq(PartMonthCol, PartBatchCol)
      case _ => Seq(PartDayCol, PartBatchCol)
    }
  }

  /** The background rewrite of a day→hour spec evolution
    * ([[graft.sources.Tables.Warehouse.evolveTimeGranularity]]): every
    * day dir still in the OLD spec (direct `p_batch=` children) rewrites
    * into `p_hour=<hours-since-epoch>/p_batch=` — cost tracks the
    * un-migrated days, not the table. Day-dir-ATOMIC: the new layout
    * stages into a hidden `_mig_` sibling (invisible to every scan),
    * then two atomic renames swap it in; the only residual is a
    * sub-millisecond absence window per day dir, the same documented
    * class as the commit path's one-time legacy migration. Crash states
    * and their heals — enumerated by where in the two-rename swap the
    * crash fell:
    *
    *  - before the first rename: intact old day + a dead `_mig_` stage.
    *    Heal: delete the stage, re-stage below.
    *  - BETWEEN the renames: the day dir is ABSENT and its only copies
    *    live in `_trash_<day>` (the intact old-spec dir) and `_mig_<day>`
    *    (the staged new-spec copy). Heal: ROLL BACK — move the trash
    *    back into place (one atomic rename; the trash IS the old day,
    *    provably complete), then delete the stage and re-migrate. An
    *    unconditional debris delete here destroyed both copies of a
    *    committed day (advice finding).
    *  - after the second rename: new-spec day in place + a `_trash_`
    *    leftover. Heal: delete the trash (the day dir supersedes it).
    *
    * Replayed micro-batches stay idempotent because a replay after the
    * flip rewrites its own (day, hour, batch) partitions.
    * @return number of day dirs migrated
    */
  def migrateTimeGranularity(spark: SparkSession, wh: Warehouse,
      table: String,
      healOlderThanMs: Long = 10L * 60 * 1000): Int = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.col
    import graft.sources.Tables.{PartBatchCol, PartDayCol, PartHourCol}
    val grain = wh.timeGranularity(table)
    // both directions (round-19 verdict item 5): grain=hour migrates
    // day-era dirs by SPLITTING their batches under p_hour; grain=day
    // migrates hour-era dirs by MERGING the hour dirs back into the
    // day's p_batch layout (cooling data). Same staged two-rename /
    // rename-free flip, same heals, same replay-duplicate guard.
    if (grain != "hour" && grain != "day") return 0
    val toHour = grain == "hour"
    val tc = wh.timePartitionCol(table).getOrElse(return 0)
    val base = wh.snapshotPath(table)
    val baseP = Paths.get(base)
    if (!Files.isDirectory(baseP)) return 0
    // heal crashed leftovers first — see the crash-state enumeration in
    // the docstring. Order matters: a _trash_ whose day dir is ABSENT is
    // the between-renames state where trash+stage hold the ONLY copies
    // of that day; the trash rolls BACK into place before any delete.
    locally {
      val s = Files.list(baseP)
      val debris =
        try s.iterator().asScala.filter { p =>
          val n = p.getFileName.toString
          n.startsWith("_mig_") || n.startsWith("_trash_")
        }.toList
        finally s.close()
      debris.filter(_.getFileName.toString.startsWith("_trash_")).foreach { tr =>
        val day = tr.resolveSibling(
          tr.getFileName.toString.stripPrefix("_trash_"))
        if (!Files.exists(day, java.nio.file.LinkOption.NOFOLLOW_LINKS))
          Files.move(tr, day, StandardCopyOption.ATOMIC_MOVE)
      }
      // what remains is safe to drop: dead _mig_ stages (their day dir
      // survived or was just rolled back) and superseded _trash_ dirs
      debris.filter(Files.exists(_, java.nio.file.LinkOption.NOFOLLOW_LINKS))
        .foreach(graft.sources.Tables.deleteRecursively)
    }
    // object-store manifest heal: a `_migrating` manifest inside a day
    // dir is a crashed rename-free flip — settle it (roll forward when
    // every new-spec file landed, roll back otherwise) before the
    // census, so the replay-duplicate guard below never trips on a
    // half-flipped day. The next maintenance tick re-runs this whole
    // method, which is the migration's replay heal.
    val skippedYoung = scala.collection.mutable.Set.empty[String]
    locally {
      val s = Files.list(baseP)
      val days = try s.iterator().asScala.filter(p =>
        p.getFileName.toString.startsWith(s"$PartDayCol=") &&
          Files.isDirectory(p)).toList finally s.close()
      // AGE-GUARDED (advice finding): a RIVAL maintenance process may be
      // mid-copy on this very day — its manifest is fresh and it keeps
      // touching the dir; healing now would roll back files it just
      // copied, and the rival would then delete the old batch dirs,
      // losing the day. Same olderThanMs discipline as the `_replacing`
      // heal in removeOrphans: only a manifest whose day dir has gone
      // QUIET for healOlderThanMs is a genuine crash. A young manifest
      // refuses loudly instead of guessing.
      val now = System.currentTimeMillis()
      days.filter(d => Files.exists(d.resolve(MigratingManifest)))
        .foreach { d =>
          if (now - newestMtime(d) > healOlderThanMs) healDayMigration(d)
          else {
            // a rival may be mid-flip on THIS day — leave it entirely
            // alone (heal it on a later pass once it settles or ages
            // out), but keep making progress on every other day: a
            // throw here blocked healing AND migration of all quiet
            // days behind one crashed-but-young day (advice finding)
            skippedYoung += d.getFileName.toString
            System.err.println(s"[graft] $table/${d.getFileName}: " +
              s"_migrating manifest fresher than ${healOlderThanMs} ms " +
              "— a rename-free grain flip may be live; skipping this " +
              "day this pass")
          }
        }
    }
    val (dayEraAll, hourEraAll) = wh.classifyDayDirs(base)
    // the dirs still in the OLD spec for the declared grain — never a
    // day whose flip may be live (skipped above)
    val toMigrate = (if (toHour) dayEraAll else hourEraAll)
      .filterNot(d => skippedYoung.contains(d.getFileName.toString))
    toMigrate.foreach { dayDir =>
      val dayBatches = wh.childDirs(dayDir, s"$PartBatchCol=")
      val hourDirs = wh.childDirs(dayDir, s"$PartHourCol=")
      // a batch id present in BOTH specs of one day is a half-healed
      // replay duplicate (appendBatch's delete-after-write window) —
      // the next replay heals it; migrating now would have to pick a
      // copy, so refuse loudly instead of guessing
      val dayIds = dayBatches.map(_.getFileName.toString).toSet
      val hourIds = hourDirs.flatMap(wh.childDirs(_, s"$PartBatchCol="))
        .map(_.getFileName.toString).toSet
      val both = dayIds.intersect(hourIds)
      require(both.isEmpty,
        s"$table/${dayDir.getFileName}: batches ${both.mkString(", ")} " +
          "exist under BOTH specs (an un-healed replay window); re-run " +
          "the ingest replay before migrating")
      // stage the WHOLE day under the declared spec: the old-era
      // children rewrite into the new layout, the already-new-era
      // children carry as zero-copy hard links — then one two-rename
      // swap makes the day dir's spec flip atomic (sub-ms absence
      // window, the same documented class as the commit path's legacy
      // migration)
      val (oldBatches, carryDirs) =
        if (toHour) (dayBatches, hourDirs) else (hourDirs, dayBatches)
      val stage = dayDir.resolveSibling(s"_mig_${dayDir.getFileName}")
      if (toHour) {
        val dayDf = spark.read.option("basePath", base)
          .option("mergeSchema", "true")
          .parquet(dayBatches.map(_.toString): _*)
        dayDf
          .withColumn(PartHourCol, graft.sources.Tables.hourOfTimeCol(col(tc),
            dayDf.schema(dayDf.schema.fieldIndex(tc)).dataType))
          .drop(PartDayCol) // the dir name IS the day; never in the files
          .repartition(col(PartHourCol), col(PartBatchCol))
          .write.mode(SaveMode.Overwrite)
          .partitionBy(PartHourCol, PartBatchCol)
          .parquet(stage.toString)
      } else {
        // hour->day merge: the hour LEAF batches re-lay under p_batch
        // alone (the dir name stays the day; the hour derivation is
        // recomputable from the declared column, nothing is lost)
        val hourLeafs = hourDirs.flatMap(wh.childDirs(_, s"$PartBatchCol="))
        spark.read.option("basePath", base)
          .option("mergeSchema", "true")
          .parquet(hourLeafs.map(_.toString): _*)
          .drop(PartDayCol, PartHourCol)
          .repartition(col(PartBatchCol))
          .write.mode(SaveMode.Overwrite)
          .partitionBy(PartBatchCol)
          .parquet(stage.toString)
      }
      def linkTree(src: java.nio.file.Path, dst: java.nio.file.Path): Unit = {
        Files.createDirectories(dst)
        val s = Files.list(src)
        try s.iterator().asScala.foreach { p =>
          val fn = p.getFileName.toString
          if (Files.isDirectory(p)) linkTree(p, dst.resolve(fn))
          else if (!fn.startsWith("_") && !fn.startsWith("."))
            wh.io.linkOrCopy(p, dst.resolve(fn))
        } finally s.close()
      }
      carryDirs.foreach(hd => linkTree(hd, stage.resolve(hd.getFileName.toString)))
      wh.io match {
        case graft.sources.ObjectStoreIO =>
          // RENAME-FREE flip (round-15 verdict item 4): the store has no
          // move, so the staged new-spec files COPY into the live day
          // dir under a `_migrating` manifest — (1) census the staged
          // tree, keeping only paths NOT already present (the linked
          // hour-era children land at identical paths and must never be
          // rolled back as "new"), (2) PUT the manifest naming the new
          // paths and the old-spec batch dirs, (3) copy new files in,
          // (4) delete the old batch dirs, (5) delete manifest + stage.
          // A crash at any point is settled by [[healDayMigration]] on
          // the next tick: all new files present → finish the old-dir
          // delete; any missing → delete the partial new files and the
          // old spec keeps serving. READ WINDOW (documented, admin-op):
          // while the copy runs, the straddling-day reader serves both
          // specs, so rows of the in-flight day can duplicate until the
          // flip settles — the POSIX path's sub-ms absence window traded
          // for a copy-length duplicate window; run the migration in a
          // maintenance window if readers cannot tolerate it.
          def relFiles(dir: java.nio.file.Path): Seq[String] = {
            val w = Files.walk(dir)
            try w.iterator().asScala
              .filter(p => Files.isRegularFile(p))
              .map(p => dir.relativize(p).toString)
              .filterNot(r => r.split('/').exists(seg =>
                seg.startsWith("_") || seg.startsWith(".")))
              .toList
            finally w.close()
          }
          val newPaths = relFiles(stage)
            .filterNot(rel => Files.exists(dayDir.resolve(rel)))
          Files.writeString(dayDir.resolve(MigratingManifest),
            (newPaths.map("N " + _) ++
              oldBatches.map(b => "O " + b.getFileName)).mkString("\n"))
          newPaths.foreach { rel =>
            val dst = dayDir.resolve(rel)
            Files.createDirectories(dst.getParent)
            wh.io.linkOrCopy(stage.resolve(rel), dst)
          }
          oldBatches.foreach(graft.sources.Tables.deleteRecursively)
          Files.delete(dayDir.resolve(MigratingManifest))
          graft.sources.Tables.deleteRecursively(stage)
        case _ =>
          val trash = dayDir.resolveSibling(s"_trash_${dayDir.getFileName}")
          Files.move(dayDir, trash, StandardCopyOption.ATOMIC_MOVE)
          Files.move(stage, dayDir, StandardCopyOption.ATOMIC_MOVE)
          graft.sources.Tables.deleteRecursively(trash)
      }
    }
    toMigrate.size
  }

  /** Day-dir manifest of an in-flight rename-free grain flip (object
    * store): `N <relpath>` lines name the new-spec files being copied
    * in, `O <dirname>` lines the old-spec batch dirs to delete after.
    */
  private[plans] val MigratingManifest = "_migrating"

  /** Newest mtime anywhere under `p` — the liveness signal every heal
    * and sweep shares: an ACTIVE writer keeps touching its tree, so a
    * tree quiet for longer than the guard is a genuine crash.
    */
  private[plans] def newestMtime(p: java.nio.file.Path): Long = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    // a DANGLING symlink (temp pointer whose stage is gone) carries no
    // recoverable meaning — "infinitely old", swept on sight. MinValue/2,
    // NOT MinValue: `now - Long.MinValue` overflows negative and would
    // make the link immortal instead (review finding)
    if (Files.isSymbolicLink(p) && !Files.exists(p)) return Long.MinValue / 2
    val self =
      try Files.getLastModifiedTime(p,
        java.nio.file.LinkOption.NOFOLLOW_LINKS).toMillis
      catch { case _: java.io.IOException => Long.MaxValue } // vanished: treat as fresh
    if (!Files.isDirectory(p, java.nio.file.LinkOption.NOFOLLOW_LINKS)) self
    else {
      val s = Files.list(p)
      try (Iterator(self) ++ s.iterator().asScala.map(newestMtime))
        .foldLeft(Long.MinValue)(math.max)
      finally s.close()
    }
  }

  /** Settle a crashed rename-free day flip. All `N` files present →
    * roll FORWARD (finish deleting the `O` dirs); any missing → roll
    * BACK (delete the partial new files + now-empty hour dirs; the old
    * spec keeps serving and the next migration re-stages). Idempotent.
    */
  private[plans] def healDayMigration(dayDir: java.nio.file.Path): Unit = {
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val mf = dayDir.resolve(MigratingManifest)
    if (!Files.exists(mf)) return
    val lines = Files.readAllLines(mf).asScala.filter(_.nonEmpty)
    val newPaths = lines.filter(_.startsWith("N ")).map(_.drop(2)).toSeq
    val oldDirs = lines.filter(_.startsWith("O ")).map(_.drop(2)).toSeq
    if (newPaths.forall(r => Files.exists(dayDir.resolve(r)))) {
      oldDirs.foreach(d =>
        graft.sources.Tables.deleteRecursively(dayDir.resolve(d)))
    } else {
      newPaths.foreach(r => Files.deleteIfExists(dayDir.resolve(r)))
      // prune partition dirs the partial copy created and left empty —
      // a reader classifying by structure must not see a hollow new
      // spec (p_hour= dirs for a day->hour flip, p_batch= dirs for an
      // hour->day merge)
      def emptyTree(p: java.nio.file.Path): Boolean = {
        val s = Files.list(p)
        try s.iterator().asScala.forall(c =>
          Files.isDirectory(c) && emptyTree(c))
        finally s.close()
      }
      val s = Files.list(dayDir)
      val specDirs = try s.iterator().asScala.filter(p =>
        Files.isDirectory(p) && {
          val n = p.getFileName.toString
          n.startsWith(s"${graft.sources.Tables.PartHourCol}=") ||
            n.startsWith(s"${graft.sources.Tables.PartBatchCol}=")
        }).toList
        finally s.close()
      specDirs.filter(emptyTree).foreach(graft.sources.Tables.deleteRecursively)
    }
    Files.delete(mf)
  }

  /** Tombstone GC: drop delete markers whose ts is older than `horizon`
    * (the maximum expected lateness). After the horizon no late change can
    * legally lose to the tombstone anymore, so it carries no information.
    * Preserves the key-bucket partitioning when present; a full-table
    * rewrite here, per-partition on a schedule at scale. A hidden-time-
    * partitioned append table takes the PARTITION-PRUNED path instead:
    * only day partitions wholly before the horizon are read and
    * rewritten, so expiry cost tracks the expired span, not table size.
    */
  def expireTombstones(
      spark: SparkSession, wh: Warehouse, table: String,
      cfg: graft.CdcConfig, horizon: String): Unit = {
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    // merge-on-read tables have their own tombstone expiry (fold deltas,
    // rewrite the base minus expired markers); the naive recursive rewrite
    // below would union base versions with delta files and legacy-move the
    // whole MOR tree into a version dir — same guard as compact
    if (MorMirror.storedConfig(wh, table).isDefined) {
      MorMirror.expireTombstones(spark, wh, table, horizon)
      return
    }
    if (wh.timePartitionCol(table).isDefined &&
        wh.currentVersion(table).isEmpty) {
      expireTombstonesPartitioned(spark, wh, table, cfg, horizon)
      return
    }
    wh.retryingConflicts() {
      val expect = wh.currentVersion(table)
      val path = wh.snapshotPath(table)
      guardPendingSidecars(spark, wh, table, path)
      // widened read: bucket/batch dirs may straddle additive evolution
      // (single-footer inference would drop the evolved column) or a
      // numeric widening (mergeSchema refuses mixed widths)
      val df = graft.sources.SchemaEvolution.readTableWidened(spark, path)
      if (df.columns.contains(graft.DmsEnvelope.OpCol)) { // else: no tombstones
        // null-safe: a null-op (LOAD-seeded) row must be KEPT — the bare
        // conjunction evaluates to null for it and filter(!null) drops it
        val kept = df.filter(!coalesce(
          col(graft.DmsEnvelope.OpCol) === graft.DmsEnvelope.Delete &&
            col(cfg.tsCol) < lit(horizon), lit(false))).localCheckpoint(true)
        wh.commit(table, expectCurrent = expect) { staged =>
          val writer = kept.write.mode(SaveMode.Overwrite)
          if (df.columns.contains(PartitionedMirror.BucketCol))
            writer.partitionBy(PartitionedMirror.BucketCol).parquet(staged)
          else writer.parquet(staged)
        }
      }
    }
  }

  /** Partition-pruned tombstone expiry for the hidden-time-partitioned
    * append layout (the 100 TB changelog shape): only day partitions
    * WHOLLY before the horizon are read — every in-horizon day dir is
    * pruned at the scan, so expiry cost tracks the expired span. Day
    * granular by construction: tombstones on the horizon's own day wait
    * for the horizon to pass midnight (conservative — an unexpired
    * tombstone is dead weight, never wrong). Surviving rows rewrite
    * their partitions via dynamic overwrite; partitions whose rows ALL
    * expired are deleted explicitly (a dynamic overwrite never touches a
    * partition absent from its output). In-place and idempotent — the
    * expiry predicate is deterministic, so a crashed run re-heals.
    * Null-day rows (Hive default partition) are never candidates.
    */
  private def expireTombstonesPartitioned(spark: SparkSession,
      wh: Warehouse, table: String, cfg: graft.CdcConfig,
      horizon: String): Unit = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.functions.{coalesce, col, lit}
    import graft.sources.Tables.{PartDayCol, PartMonthCol}
    // a mid-evolution tree migrates first so the unified read + dynamic
    // overwrite below see ONE consistent partition layout (rewriting a
    // day-era day under the hour spec would leave its old batch dirs as
    // duplicates — the overwrite only replaces hour-spec partitions)
    migrateTimeGranularity(spark, wh, table)
    val partCols = timeLayoutCols(wh, table)
    val topCol = partCols.head // p_day, or p_month at month grain
    val path = wh.snapshotPath(table)
    if (!Files.isDirectory(Paths.get(path))) return
    val horizonDay = java.time.LocalDate.parse(horizon.take(10))
    val horizonMonth = (horizonDay.getYear - 1970) * 12 +
      (horizonDay.getMonthValue - 1)
    // a top-level dir is expirable only when WHOLLY before the horizon —
    // the horizon's own day/month waits (conservative: an unexpired
    // tombstone is dead weight, never wrong)
    def topWhollyBefore(v: String): Boolean =
      v != "__HIVE_DEFAULT_PARTITION__" && (topCol match {
        case PartMonthCol => v.toInt < horizonMonth
        case _ => java.time.LocalDate.parse(v).isBefore(horizonDay)
      })
    def valueOf(n: String): Option[String] =
      if (n.startsWith(s"$topCol=")) Some(n.drop(topCol.length + 1))
      else None
    val oldTopDirs = {
      val s = Files.list(Paths.get(path))
      try s.iterator().asScala.filter(p =>
          valueOf(p.getFileName.toString).exists(topWhollyBefore)).toSeq
      finally s.close()
    }
    if (oldTopDirs.isEmpty) return
    val df = spark.read.option("basePath", path)
      .option("mergeSchema", "true").parquet(path)
    if (!df.columns.contains(graft.DmsEnvelope.OpCol)) return
    // PARTITION-PRUNED scan: only wholly-before top partitions open
    val old = topCol match {
      case PartMonthCol => df.filter(col(PartMonthCol) < lit(horizonMonth))
      case _ => df.filter(col(PartDayCol) < lit(java.sql.Date.valueOf(horizonDay)))
    }
    val kept = old.filter(!coalesce(
      col(graft.DmsEnvelope.OpCol) === graft.DmsEnvelope.Delete &&
        col(cfg.tsCol) < lit(horizon), lit(false))).localCheckpoint(true)
    wh.io match {
      // no rename on the store (the shared staged-replace commit)
      case graft.sources.ObjectStoreIO =>
        wh.partitionedOverwriteNoRename(kept, table, partCols)
      case _ =>
        kept.write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*)
          .parquet(path)
    }
    // partitions that lost every row: metadata-sized collect (distinct
    // partition tuples of the expired span), then explicit deletes — a
    // dynamic overwrite never touches a partition absent from its output
    val survivors = kept
      .select(partCols.map(c => col(c).cast("string")): _*)
      .distinct().collect()
      .map(r => partCols.indices.map(i =>
        Option(r.getString(i)).getOrElse("__HIVE_DEFAULT_PARTITION__")).toList)
      .toSet
    // walk the partition levels under each expired top dir; delete leaf
    // batch dirs whose full tuple lost every row, prune emptied parents
    def sweep(dir: Path, key: List[String], depth: Int): Unit = {
      if (depth == partCols.length) {
        if (!survivors.contains(key))
          graft.sources.Tables.deleteRecursively(dir)
        return
      }
      val prefix = s"${partCols(depth)}="
      val s = Files.list(dir)
      val children =
        try s.iterator().asScala
          .filter(_.getFileName.toString.startsWith(prefix)).toSeq
        finally s.close()
      children.foreach { c =>
        sweep(c, key :+ c.getFileName.toString.drop(prefix.length), depth + 1)
      }
      val s2 = Files.list(dir)
      val empty = try !s2.iterator().hasNext finally s2.close()
      if (empty) graft.sources.Tables.deleteRecursively(dir)
    }
    oldTopDirs.foreach { top =>
      sweep(top, List(valueOf(top.getFileName.toString).get), 1)
    }
  }

  /** Data files of a table (parquet parts, not markers). */
  def dataFiles(spark: SparkSession, wh: Warehouse, table: String): Seq[String] =
    graft.sources.Tables.listFilesExcluding(wh.tablePath(table), None)
      .filter(_.endsWith(".parquet"))

  /** Orphan-file GC — the engine's `remove_orphan_files` (Iceberg ships
    * it for exactly this reason: object stores accumulate files written
    * by crashed stages that never committed, invisible to every reader
    * but billed forever). Reachability model: files reachable from the
    * published pointer chain (current + retained versions), from live
    * MOR deltas, and from batch subdirs are LIVE; everything else in the
    * table's namespace is a candidate:
    *
    *  - version dirs ABOVE the published version (a crashed commit's
    *    stage — [[graft.sources.Tables.Warehouse.commit]]'s GC
    *    deliberately never reaches up there because a live rival may
    *    still be writing; here an AGE GUARD arbitrates instead),
    *  - leftover `.ptr*` temp links and stale `.commitlock` files,
    *  - MOR: crashed delta stages (`deltas/.batch_*.staging`) and
    *    crashed nested base stages,
    *  - Spark task-attempt debris (`_temporary`) inside batch subdirs.
    *
    * The age guard (newest mtime in the candidate TREE must be older
    * than `olderThanMs`) is what makes deletion safe against in-flight
    * work: an active writer keeps touching its stage; an in-flight
    * reader only ever pins files reachable from a pointer that existed
    * when it planned, and those are never candidates. A COMPLETE
    * migration stage is never garbage — [[MorMirror.recoverMigration]]
    * adopts it first.
    *
    * @return the paths deleted (for the operator's audit log)
    */
  def removeOrphans(wh: Warehouse, table: String,
      olderThanMs: Long = 24L * 3600 * 1000): Seq[String] = {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val now = System.currentTimeMillis()
    val deleted = scala.collection.mutable.ArrayBuffer[String]()

    def sweep(p: Path): Unit =
      if (Files.exists(p, java.nio.file.LinkOption.NOFOLLOW_LINKS) &&
          now - newestMtime(p) > olderThanMs) {
        deleted += p.toString
        graft.sources.Tables.deleteRecursively(p)
      }
    def sweepIn(wh2: Warehouse, name: String): Unit = {
      // crashed commit stages: never-published version dirs at any number
      wh2.unpublishedStages(name).foreach(sweep)
      // leftover temp links / stale locks from killed committers
      val rootP = Paths.get(wh2.root)
      if (Files.isDirectory(rootP)) {
        val s = Files.list(rootP)
        try s.iterator().asScala
          .filter { p =>
            val n = p.getFileName.toString
            // the startsWith also catches `<name>.commitlock.broken.<pid>`
            // left by a breaker that crashed mid-break (review finding);
            // `.vN.discardM` is a stage discard whose delete was cut short
            n.startsWith(s"$name.ptr") || n.startsWith(s"$name.commitlock") ||
              // per-epoch staging of a CRASHED streaming query (a clean
              // stop aborts its own dir; a killed JVM cannot) — the age
              // guard keeps live streams' in-flight epochs safe
              n.startsWith(s"$name.streamepoch_") ||
              // the object-store epoch commit's private staging prefix
              // (appendBatch): deleted in-line on success, debris only
              // when the writer crashed mid-epoch
              n.startsWith(s"$name.epochstage_") ||
              n.matches(java.util.regex.Pattern.quote(name) +
                "\\.v\\d+\\.discard\\d+") ||
              // a `.vN.stage` sibling whose version dir is GONE is debris
              // from a discard whose final marker delete was cut short; a
              // live stage's sibling (dir still present) is never touched
              (n.matches(java.util.regex.Pattern.quote(name) +
                  "\\.v\\d+\\.stage") &&
                !Files.exists(p.resolveSibling(n.stripSuffix(".stage"))))
          }.toSeq.foreach(sweep)
        finally s.close()
      }
    }

    // a COMPLETE migration stage is recoverable data — adopt it; an
    // INCOMPLETE one may still be under its writer — age-guard it
    MorMirror.stagedMigration(wh, table).foreach {
      case (_, true) => MorMirror.recoverMigration(wh, table)
      case (p, false) => sweep(p)
    }
    sweepIn(wh, table)
    if (MorMirror.storedConfig(wh, table).isDefined) {
      val nested = Warehouse(wh.tablePath(table), io = wh.io)
      sweepIn(nested, "base")
      // crashed delta publications (the atomic rename never happened)
      val dd = Paths.get(wh.tablePath(table), "deltas")
      if (Files.isDirectory(dd)) {
        val s = Files.list(dd)
        try s.iterator().asScala
          .filter(!_.getFileName.toString.startsWith("batch_"))
          .toSeq.foreach(sweep)
        finally s.close()
      }
    }
    // Spark task-attempt debris inside batch subdirs (crashed appendBatch)
    // — plus `.spark-staging-*` roots left by a crashed DYNAMIC partition
    // overwrite (the time-partitioned appendBatch layout)
    val tableP = Paths.get(wh.tablePath(table))
    if (Files.isDirectory(tableP)) {
      val walk = Files.walk(tableP, 3)
      try walk.iterator().asScala
        .filter { p =>
          val n = p.getFileName.toString
          n == "_temporary" || n.startsWith(".spark-staging")
        }.toSeq.foreach(sweep)
      finally walk.close()
    }
    // crashed per-partition replaces (a `_replacing` manifest left by a
    // killed partitionedOverwriteNoRename): settle them — roll forward
    // when the copy completed, roll back otherwise. The SAME age guard
    // as sweep: a LIVE replace keeps touching its partition dir, and
    // healing under a live writer would delete files it just copied.
    // Depth 4 covers the deepest layout (p_day/p_hour/p_batch/_replacing).
    if (Files.isDirectory(tableP)) {
      val walk = Files.walk(tableP, 4)
      try walk.iterator().asScala
        .filter(_.getFileName.toString ==
          graft.sources.Tables.ReplacingManifest)
        .toSeq
        .foreach { mf =>
          val part = mf.getParent
          if (now - newestMtime(part) > olderThanMs) {
            deleted += mf.toString
            wh.healReplacing(part)
          }
        }
      finally walk.close()
    }
    deleted.toSeq
  }
}
