package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{BooleanType, DataType, NumericType, StructType}

import graft.sources.Tables.{TableProps, Warehouse}

/** Merge-on-read SQL DELETE (Iceberg's equality-delete files on plain
  * parquet — round-13 verdict item 4): a table that declares
  * `write.delete.mode = merge-on-read` turns `DELETE FROM ... WHERE`
  * into an O(deleted-keys) commit instead of a copy-on-write file
  * rewrite — the new version HARD-LINKS every base data file and adds
  * one sidecar under `_eqdeletes/`:
  *
  *   _eqdeletes/d<nanos>-<uuid>/keys.parquet   the matched KEY values
  *   _eqdeletes/d<nanos>-<uuid>/census.txt     the data files it applies to
  *
  * SEMANTICS — keyed, like everything in this engine: the table's
  * declared key (`cdc.key-column`) identifies rows, and the delete
  * removes every row whose key matched the predicate (exact when the
  * key is unique — the keyed-mirror contract; the mode refuses tables
  * that declare no key). The CENSUS scopes each sidecar to the data
  * files that existed when it committed — Iceberg's sequence-number
  * rule expressed on names: a key re-INSERTED after the delete lands in
  * a NEW file outside the census and is NOT re-deleted.
  *
  * READ SIDE ([[EqDeleteScanBuilder]]): the catalog scan splits the
  * file set by applicable-sidecar signature — unaffected files keep the
  * stock vectorized scan untouched; affected groups re-plan through the
  * same `ParquetTable` machinery (filters re-pushed, columns pruned
  * plus the key) and their readers drop rows whose key is in the
  * group's deleted-key set (row-based until folded, the Iceberg
  * eq-delete read tax). Aggregate pushdown is NOT offered while
  * sidecars are pending — a footer-credited count would count deleted
  * rows.
  *
  * `CALL compact` (and cluster, via [[fold]]) FOLDS pending sidecars:
  * one committed rewrite of the AFFECTED files minus their deleted
  * keys, everything else carried by link — cost tracks the touched
  * region, and the folded version serves plain scans again.
  */
private[graft] object EqDeletes {

  /** `copy-on-write` (default, absent) or `merge-on-read`. */
  val ModeProp = "write.delete.mode"
  /** The key column(s) the eq-deletes identify rows by — COMPOSITE keys
    * declare a comma-separated list (`cdc.key-column = a,b`), the
    * Iceberg identifier-fields rule: compound-PK source tables (the
    * common DMS junction/fact shape) get merge-on-read too. The
    * reference leaves the key configurable, not shaped
    * (tabular.py:44-45,62).
    */
  val KeyProp = "cdc.key-column"
  val Dir = "_eqdeletes"

  /** Parse the declared key columns (round 17: N ≥ 1) — the shared
    * [[graft.CdcConfig.parseKeyCols]] syntax.
    */
  def keyColsOf(props: Map[String, String]): Option[Seq[String]] =
    props.get(KeyProp).map(_.trim).filter(_.nonEmpty)
      .map(graft.CdcConfig.parseKeyCols)

  /** Above this many matched keys a sidecar stops being small metadata:
    * its key set is collected to the driver, written from there and
    * shipped inside every affected read's probe filter. A DELETE past it
    * takes the positional sidecar; a MERGE past it refuses.
    */
  val MaxKeys = 1000000L

  /** Maintenance fold trigger (the I1 `morCompactEvery` analog for the
    * SQL MOR path): when a table's PENDING sidecar count reaches this
    * prop's value, the scheduled tick ([[graft.MaintenanceMain]]) folds
    * them even when every other compaction guard (file-count budget,
    * zone-map freshness) would skip — each pending sidecar adds a
    * per-row HashSet probe to affected-file reads, and nothing else
    * bounds that stack.
    */
  val FoldEveryProp = "write.delete.fold-every"

  /** Default fold trigger. The measured read-debt curve (graft.
    * DeltaStress read_side, SCALE.md round-16) is FLAT once censuses
    * narrow and key sets batch-load — 64 pending sidecars read at
    * 0.18 s vs 0.10 s clean on the 2M-row fixture, because affected
    * groups merge their stacked key sets into one probe HashSet. The
    * trigger therefore bounds the *metadata* accumulation instead:
    * every DELETE pays a [[logicalMorRead]] over the stack to compute
    * its matched set, every scan re-groups by census signature, and the
    * driver key-set cache holds one entry per pending sidecar. 16
    * keeps all three O(small) while folding at O(deletes/16) frequency.
    */
  val DefaultFoldEvery = 16

  def morEnabled(props: Map[String, String]): Boolean =
    props.get(ModeProp).contains("merge-on-read")

  private val nullFreeVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Verify the snapshot holds NO NULL keys — the merge-on-read
    * contract (the key column reports REQUIRED; Iceberg's
    * identifier-field rule). Cost is one parquet FOOTER walk (null
    * counts are column-chunk statistics — no data pages), cached per
    * version dir because snapshots are immutable; a file without
    * usable stats falls back to one Spark count. Enforced when the
    * mode is DECLARED and before every delta write: a NULL key under a
    * non-nullable schema would not fail loudly — codegen elides the
    * null check and reads garbage, which is silent corruption.
    */
  def requireNullFreeKeys(spark: SparkSession, snapshotDir: String,
      keyCols: Seq[String], context: String): Unit =
    keyCols.foreach(requireNullFreeKey(spark, snapshotDir, _, context))

  /** The LOGICAL-content variant of [[requireNullFreeKeys]] for
    * snapshots with pending POSITIONAL tombstones (round 18): footer
    * null counts include rows the tombstones already hide — the normal
    * repair for NULL keys IS a positional `DELETE WHERE key IS NULL`,
    * after which the physical files still hold the nulls but the
    * logical content is null-free. One probe-filtered scan, memoized
    * per immutable (snapshot, keys) like the footer check.
    */
  def requireNullFreeKeysLogical(spark: SparkSession, snapshotDir: String,
      props: Map[String, String], keyCols: Seq[String],
      context: String): Unit = {
    val memoKey = s"$snapshotDir#logical#${keyCols.mkString(",")}"
    if (nullFreeVerified.contains(memoKey)) return
    val nulls = logicalMorRead(spark, snapshotDir, props)
      .filter(keyCols.map(col(_).isNull).reduce(_ || _)).count()
    if (nulls > 0) throw new UnsupportedOperationException(
      s"$context: $nulls LIVE row(s) carry a NULL key component " +
        s"('${keyCols.mkString("','")}') — merge-on-read declares the " +
        "key REQUIRED. Delete or repair the NULL-key rows first " +
        "(a predicate DELETE routes them to a positional sidecar)")
    nullFreeVerified.add(memoKey)
  }

  private def requireNullFreeKey(spark: SparkSession, snapshotDir: String,
      keyCol: String, context: String): Unit = {
    // memo key includes the KEY COLUMN, not just the snapshot: re-keying
    // a table (unset MOR, change cdc.key-column, re-declare) must
    // re-verify — a pass recorded for column A says nothing about
    // column B's nulls (advice finding, round 16)
    val memoKey = s"$snapshotDir#$keyCol"
    if (nullFreeVerified.contains(memoKey)) return
    val files = graft.plans.ZoneMap.dataFileCensus(spark, snapshotDir)
    lazy val conf = spark.sessionState.newHadoopConf()
    var statsNulls = 0L
    var statsUsable = true
    files.iterator.takeWhile(_ => statsUsable && statsNulls == 0L)
      .foreach { rel =>
        graft.plans.ZoneMap.footerStats(s"$snapshotDir/$rel", conf)
          .blocks.foreach { b =>
            b.cols.get(keyCol) match {
              case Some(st) =>
                if (!st.statsPresent || !st.numNullsSet) statsUsable = false
                else statsNulls += st.numNulls
              case None => statsNulls += b.rowCount // pre-key era: all null
            }
          }
      }
    val nulls =
      if (statsUsable) statsNulls
      else spark.read.parquet(files.map(f => s"$snapshotDir/$f"): _*)
        .filter(org.apache.spark.sql.functions.col(keyCol).isNull).count()
    if (nulls > 0) throw new UnsupportedOperationException(
      s"$context: $nulls row(s) carry a NULL '$keyCol' — merge-on-read " +
        "declares the key REQUIRED (equality deletes and delta writes " +
        "identify rows by it). Repair or delete the NULL-key rows first")
    nullFreeVerified.add(memoKey)
  }

  final case class Sidecar(dir: Path, census: Set[String]) {
    def keysPath: String = keysDir(dir).toString
    /** The key signature this sidecar was WRITTEN under (declared order,
      * one column per line in `keycols.txt`) — the columns its stored
      * key frame identifies rows by. `None` for sidecars written before
      * round 19 recorded it; readers fall back to the call-time declared
      * key, which the catalog's re-key guard keeps identical while any
      * sidecar pends in retained history (advice finding: `between()`
      * reads historical sidecars, and an API-level re-key must not
      * rebind an old frame to different columns).
      */
    def storedKeyCols: Option[Seq[String]] = {
      val f = dir.resolve(KeyColsFile)
      if (Files.isRegularFile(f))
        Some(Files.readAllLines(f).asScala.map(_.trim)
          .filter(_.nonEmpty).toSeq)
      else None
    }
  }

  /** A sidecar dir's files: the key frame (a Spark-written parquet
    * directory), the data files it applies to (one relative name per
    * line), and the key signature (see [[Sidecar.storedKeyCols]]).
    */
  private val KeysFile = "keys.parquet"
  private val CensusFile = "census.txt"
  val KeyColsFile = "keycols.txt"

  /** The key-frame directory of sidecar dir `d`. */
  def keysDir(d: Path): Path = d.resolve(KeysFile)

  /** Create a fresh, globally uniquely named sidecar dir under a STAGED
    * version's `_eqdeletes/` (the key loader maps part files back
    * through the dir name).
    */
  def newSidecarDir(stagedDir: Path): Path =
    Files.createDirectories(stagedDir.resolve(Dir)
      .resolve(s"d${System.nanoTime()}-${java.util.UUID.randomUUID()}"))

  /** Record a sidecar's key signature and census beside its key frame —
    * what [[pending]] and [[Sidecar.storedKeyCols]] read back.
    */
  def writeSidecarMeta(d: Path, keyCols: Seq[String],
      census: Seq[String]): Unit = {
    Files.write(d.resolve(KeyColsFile),
      keyCols.mkString("\n").getBytes("UTF-8"))
    Files.write(d.resolve(CensusFile),
      census.sorted.mkString("\n").getBytes("UTF-8"))
  }

  /** Census narrowing for a new sidecar: scope it to the files that CAN
    * contain a deleted key — zone-map evidence first (bloom ∧ min/max,
    * keep-conservative), parquet FOOTER min/max as the manifest-less
    * fallback (driver-side, file-count-capped), the whole census last
    * (always correct, just unsplit). `keyRows` is only forced under the
    * probe cap.
    *
    * COMPOSITE keys narrow by PER-COLUMN INTERSECTION: a file survives
    * only when, for every key column with evidence, it can hold at
    * least one of that column's matched component values — a superset
    * of the files holding a matched tuple (keep-conservative, exact for
    * N = 1). A column without evidence constrains nothing.
    */
  def narrowedCensus(spark: SparkSession, snapshotDir: String,
      keyCols: Seq[String],
      keyTypes: Seq[org.apache.spark.sql.types.DataType],
      keyRows: => Seq[Seq[Any]], nKeys: Long,
      all: Seq[String]): Seq[String] =
    if (nKeys <= 0 || nKeys > graft.plans.ZoneMap.MaxProbeKeys) all
    else {
      val rows = keyRows
      val perCol = keyCols.zipWithIndex.map { case (c, i) =>
        val values = rows.map(_(i)).distinct.toIndexedSeq
        graft.plans.ZoneMap.keyedSurvivors(spark, snapshotDir, c, values,
          keyTypeHint = Some(keyTypes(i)))
          .orElse(graft.plans.ZoneMap.footerSurvivors(spark, snapshotDir,
            c, values, keyTypes(i)))
      }
      perCol.flatten
        .reduceOption((a, b) => (a.toSet intersect b.toSet).toSeq)
        .getOrElse(all)
    }

  /** A DELETE's matched key set, collected to the driver: `rows` the
    * distinct non-null key tuples (columns of `schema`, declared key
    * order) as internal rows, `n` their count, `nullKeys` the distinct
    * matched tuples with a NULL component — an equality sidecar cannot
    * identify those rows. Past [[MaxKeys]] the collect stops, so `n` or
    * `nullKeys` is then a lower bound; either one routes the DELETE to
    * the positional sidecar.
    */
  final case class MatchedKeys(schema: StructType, rows: IndexedSeq[InternalRow],
      nullKeys: Long) {
    def n: Long = rows.size.toLong
    def keyTypes: Seq[DataType] = schema.map(_.dataType)
    /** External (Scala) values per tuple, for census narrowing. */
    def values: IndexedSeq[Seq[Any]] = {
      val convs = keyTypes.map(CatalystTypeConverters.createToScalaConverter)
      rows.map(r => convs.indices.map(i => convs(i)(r.get(i, keyTypes(i)))))
    }
    /** The probe set the written sidecar loads as. */
    def keySet: java.util.HashSet[Any] = {
      val set = new java.util.HashSet[Any]()
      rows.foreach(r => set.add(probeKey(keyTypes.size, i => r.get(i, keyTypes(i)))))
      set
    }
  }

  /** Build a DELETE's matched key set: the rows of `logical` matching
    * `pred`, projected to the key and deduplicated, in one collect.
    */
  def matchedKeys(logical: DataFrame, pred: Column, keyCols: Seq[String]): MatchedKeys =
    collectKeys(logical.filter(coalesce(pred, lit(false)))
      .select(keyCols.map(col): _*).dropDuplicates(keyCols))

  /** Collect a frame of DISTINCT key tuples to the driver, at most
    * [[MaxKeys]] + 1 of them, as internal rows with their values copied
    * out of the result buffers.
    */
  def collectKeys(distinct: DataFrame): MatchedKeys = {
    val qe = distinct.limit((MaxKeys + 1).toInt).queryExecution
    val types = distinct.schema.map(_.dataType)
    val collected = SQLExecution.withNewExecutionId(qe, Some("collect"))(
      qe.executedPlan.executeCollect())
    val (nulls, keys) = collected.toIndexedSeq.map { r =>
      InternalRow.fromSeq(types.indices.map(i =>
        if (r.isNullAt(i)) null else InternalRow.copyValue(r.get(i, types(i)))))
    }.partition(r => types.indices.exists(r.isNullAt))
    MatchedKeys(distinct.schema, keys, nulls.size.toLong)
  }

  /** The probe element of one key tuple — the single value, or a `List`
    * of the components in declared order (structural equality) — or
    * null when any component is NULL: SQL equality can never have
    * matched that row, so every probe keeps it.
    */
  private[sources] def probeKey(n: Int, component: Int => Any): Any =
    if (n == 1) component(0)
    else {
      var i = n - 1
      var acc: List[Any] = Nil
      while (i >= 0) {
        val v = component(i)
        if (v == null) return null
        acc = v :: acc
        i -= 1
      }
      acc
    }

  /** Any pending merge-on-read sidecar — equality OR positional
    * ([[PosDeletes]]): the gate every raw-read/rewrite path checks.
    */
  def anyPending(snapshotDir: String): Boolean =
    pending(snapshotDir).nonEmpty ||
      PosDeletes.pending(snapshotDir).nonEmpty

  /** The snapshot's LOGICAL content: its data files minus every pending
    * delete, both sidecar kinds — the one DataFrame-level merge-on-read
    * read (DML matching, the fold and compact rewrites, changelog hops,
    * and the plan the catalog's split rules splice in for positional
    * tombstones). Data files group by (applicable equality sidecars,
    * carries tombstones?) and each group reads as ONE relation over
    * exactly its files: tombstoned groups drop the ordinals their `.pos`
    * files name ([[PosDeletes.live]]), and the applicable equality
    * sidecars filter through one driver-built [[EqDeleteProbe]] per key
    * signature they were WRITTEN under ([[Sidecar.storedKeyCols]]; the
    * declared key for pre-signature frames, which are positional in
    * declared order) — a historical sidecar deletes by ITS columns even
    * after an API-level re-key. The probe sets come from the
    * [[internalKeySets]] cache, so a read whose sidecars are cached runs
    * no Spark job for them.
    *
    * `files` restricts the read to those data files (the fold's affected
    * region); `schema` replaces the widened footer schema (a catalog
    * splice must match its relation's output). With nothing pending and
    * neither given, this is [[SchemaEvolution.readTableWidened]].
    */
  def logicalMorRead(spark: SparkSession, snapshotDir: String,
      props: Map[String, String], files: Option[Seq[String]] = None,
      schema: Option[StructType] = None): DataFrame = {
    val eq = pending(snapshotDir)
    val pos = PosDeletes.pending(snapshotDir)
    if (eq.isEmpty && pos.isEmpty && files.isEmpty && schema.isEmpty)
      return SchemaEvolution.readTableWidened(spark, snapshotDir)
    // LOUD when the key declaration is gone but sidecars pend (the
    // pre-round-17 contract): a silent raw read would resurrect every
    // sidecar-deleted row through the DML matching / audit paths
    val keyCols =
      if (eq.isEmpty) Nil
      else keyColsOf(props).getOrElse(throw new IllegalStateException(
        s"$snapshotDir carries pending equality-delete sidecars but " +
          s"no '$KeyProp' is declared — the sidecar key frames are " +
          "bound to the declared key; restore the property"))
    val readSchema = schema.getOrElse(
      SchemaEvolution.readTableWidened(spark, snapshotDir).schema)
    val tombstoned = PosDeletes.affectedFiles(pos)
    files.getOrElse(graft.plans.ZoneMap.dataFileCensus(spark, snapshotDir))
      .groupBy(f => (eq.filter(_.census.contains(f)), tombstoned(f)))
      .toSeq.sortBy(_._2.head)
      .map { case ((applicable, dirty), fs) =>
        val df = spark.read.schema(readSchema)
          .parquet(fs.map(f => s"$snapshotDir/$f"): _*)
        val live = if (dirty) df.filter(PosDeletes.live(pos)) else df
        applicable.groupBy(_.storedKeyCols.getOrElse(keyCols)).toSeq
          .sortBy(_._1.mkString(","))
          .foldLeft(live) { case (acc, (kc, scs)) =>
            val types = kc.map(c => readSchema.find(_.name.equalsIgnoreCase(c))
              .getOrElse(throw new IllegalStateException(
                s"$snapshotDir: sidecar key column '$c' is not in the " +
                  s"read schema ${readSchema.simpleString}")).dataType)
            acc.filter(GraftSqlBridge.column(EqDeleteProbe(
              kc.map(c => UnresolvedAttribute.quoted(c)), types,
              new EqDeleteProbe.Keys(internalKeySet(spark, scs, types), scs.size))))
          }
      }
      .reduceOption(_.unionByName(_))
      .getOrElse(spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        readSchema))
  }

  /** Pending sidecars of a snapshot dir, oldest first. */
  def pending(snapshotDir: String): Seq[Sidecar] = {
    val root = Paths.get(snapshotDir, Dir)
    if (!Files.isDirectory(root)) return Seq.empty
    val s = Files.list(root)
    try s.iterator().asScala
      .filter(p => Files.isDirectory(p))
      .toSeq.sortBy(_.getFileName.toString)
      .map { d =>
        val census = Files.readAllLines(d.resolve(CensusFile))
          .asScala.filter(_.nonEmpty).toSet
        Sidecar(d, census)
      }
    finally s.close()
  }

  /** Write one sidecar into a STAGED version dir from the driver: the
    * key frame (one parquet part file under `keys.parquet/`, written
    * through the same `OutputWriterFactory` the delta writer's tasks
    * use), the key signature (the frame's own column names, so a
    * historical read never rebinds the frame to a later key declaration
    * — [[Sidecar.storedKeyCols]]) and `census`, the relative data-file
    * names the delete applies to. Returns the sidecar dir's name, the
    * identity [[seedKeySet]] caches its key set under.
    */
  def write(stagedDir: String, keys: MatchedKeys, census: Seq[String]): String = {
    val spark = SparkSession.active
    val d = newSidecarDir(Paths.get(stagedDir))
    val out = Files.createDirectories(keysDir(d))
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
      keys.schema, new ParquetOptions(Map.empty[String, String],
        spark.sessionState.conf))
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("graft-eqdelete", 0, TaskType.MAP, 0, 0))
    val w = factory.newInstance(out.resolve(
      s"part-00000-${java.util.UUID.randomUUID()}-c000" +
        factory.getFileExtension(ctx)).toString, keys.schema, ctx)
    try keys.rows.foreach(w.write) finally w.close()
    writeSidecarMeta(d, keys.schema.fieldNames.toSeq, census)
    d.getFileName.toString
  }

  /** Group the snapshot's data files by WHICH sidecars apply to each —
    * per-signature scans keep a re-inserted key alive (its new file is
    * outside the older sidecar's census).
    */
  def bySignature(allFiles: Seq[String], sidecars: Seq[Sidecar])
      : Seq[(Seq[String], Seq[Sidecar])] =
    allFiles.groupBy(f => sidecars.filter(_.census.contains(f)))
      .toSeq.map { case (applicable, files) => (files, applicable) }
      .sortBy(_._1.headOption.getOrElse(""))

  /** (unaffected, affected): the data files no sidecar's census names,
    * and the rest — the line between the stock columnar scan and the
    * key-probing one, and between the fold's carried and rewritten files.
    */
  def affectedSplit(allFiles: Seq[String], sidecars: Seq[Sidecar])
      : (Seq[String], Seq[String]) =
    allFiles.partition(f => !sidecars.exists(_.census.contains(f)))

  /** Fold every pending sidecar into one committed rewrite: affected
    * files rewrite minus their deleted keys, unaffected files carry by
    * link, sidecars do not carry — the folded version is a plain
    * snapshot again. Returns true when a fold committed.
    */
  /** Test seam: fired between the fold's snapshot read and its commit —
    * the spec uses it to land a rival commit deterministically inside
    * the conflict window (same pattern as MorMirror.beforeBaseCommit).
    */
  private[graft] var beforeFoldCommit: () => Unit = () => ()

  def fold(spark: SparkSession, wh: Warehouse, table: String): Boolean = {
    if (!anyPending(wh.snapshotPath(table))) return false
    val props = TableProps.read(wh, table)
    require(pending(wh.snapshotPath(table)).isEmpty ||
        keyColsOf(props).isDefined,
      s"'$table' has pending equality deletes but no '$KeyProp'")
    wh.retryingConflicts() {
      val expect = wh.currentVersion(table)
      val snap = wh.snapshotPath(table)
      val sidecars = pending(snap)
      val posDirs = PosDeletes.pending(snap)
      if (sidecars.nonEmpty || posDirs.nonEmpty) {
        val all = graft.plans.ZoneMap.dataFileCensus(spark, snap)
        // a file folds when ANY sidecar kind touches it: named in an
        // equality census, or carrying positional tombstones
        val untouched = affectedSplit(all, sidecars)._1
          .filterNot(PosDeletes.affectedFiles(posDirs))
        val affected = all.filterNot(untouched.toSet)
        // lazy: the staged write streams survivors straight from the
        // PINNED snapshot's immutable files (merge-on-read tables are
        // always versioned) — no localCheckpoint materialization pass.
        // A rival-GC vanishing-snapshot failure mid-write is conflict-
        // shaped (isSnapshotRace) and retried by retryingConflicts.
        val survivors =
          if (affected.isEmpty) None
          else Some(logicalMorRead(spark, snap, props, Some(affected)))
        val markers = Tables.readRootMarkers(snap)
        beforeFoldCommit()
        wh.commit(table, expectCurrent = expect) { staged =>
          survivors.foreach(_.write.mode(SaveMode.Overwrite).parquet(staged))
          untouched.foreach { f =>
            wh.io.linkOrCopy(Paths.get(snap, f), Paths.get(staged, f))
          }
          // a version dir needs at least one footer to serve its schema
          if (survivors.isEmpty && untouched.isEmpty)
            spark.createDataFrame(
              java.util.Collections.emptyList[org.apache.spark.sql.Row](),
              SchemaEvolution.readTableWidened(spark, snap).schema)
              .repartition(1).write
              .mode(SaveMode.Append).parquet(staged)
          Tables.writeRootMarkers(markers, staged)
          // neither sidecar kind carries (the fold consumed them); no
          // _zonemap carry: rewritten names invalidate the census
        }
      }
    }
    true
  }

  /** Per-sidecar deleted-key sets in CATALYST INTERNAL form, cached by
    * (sidecar dir NAME, key types). The name `d<nanos>-<uuid>` is
    * globally unique and its content immutable, so the entry stays valid
    * as every later commit re-links the sidecar into its own version
    * dir; the types keep a set decoded under `int` from being probed
    * with `bigint` values. The writers seed the entry of the sidecar
    * they publish ([[seedKeySet]]); the first scan after a stack of
    * foreign deletes loads every still-uncached set in ONE Spark job
    * (the per-sidecar `spark.read.collect` shape paid one full job —
    * scheduler overhead, not I/O — per sidecar per scan; 64 pending
    * sidecars made every table scan a 64-job planning storm, measured
    * in DeltaStress round 16). Bounded: sets past [[CacheableKeys]]
    * are rebuilt per scan instead of cached.
    */
  private val keySetCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Seq[DataType]), java.util.HashSet[Any]]()
  private val CacheableKeys = 100000

  private[graft] def clearKeySetCache(): Unit = keySetCache.clear()

  private def cacheKey(sc: Sidecar, keyTypes: Seq[DataType]) =
    (sc.dir.getFileName.toString, keyTypes)

  private def cachePut(key: (String, Seq[DataType]),
      set: java.util.HashSet[Any]): Unit = {
    // crude bound on ENTRY count too (folded sidecars leave stale
    // entries behind): past it, start over rather than grow forever
    if (keySetCache.size > 256) keySetCache.clear()
    if (set.size <= CacheableKeys) keySetCache.put(key, set)
  }

  /** Cache the key set of the sidecar a writer just PUBLISHED as dir
    * `dirName` from the keys it wrote, so the next read of it runs no
    * key-load job.
    */
  def seedKeySet(dirName: String, keys: MatchedKeys): Unit =
    if (keys.rows.size <= CacheableKeys)
      cachePut((dirName, keys.keyTypes), keys.keySet)

  /** Load a signature group's deleted keys (union over its applicable
    * sidecars) in CATALYST INTERNAL form, ready for per-row probes.
    * Composite keys probe as `List[Any]` of the components in declared
    * order (structural equality); single keys stay the raw value. A
    * single sidecar's cached set is returned as is: probes only read it.
    */
  def internalKeySet(spark: SparkSession, applicable: Seq[Sidecar],
      keyTypes: Seq[DataType]): java.util.HashSet[Any] = {
    val perSidecar = internalKeySets(spark, applicable, keyTypes).values
    if (perSidecar.size == 1) perSidecar.head
    else {
      val set = new java.util.HashSet[Any]()
      perSidecar.foreach(set.addAll)
      set
    }
  }

  /** Per-sidecar key sets for `sidecars` (keyed by sidecar dir path),
    * loading all cache misses in one batched read. A frame stored under
    * a narrower type than `keyTypes` (a read serving the key wider than
    * it was written) loads through a numeric up-cast; any other
    * mismatch fails loudly — a probe of differently typed values would
    * silently match nothing.
    */
  def internalKeySets(spark: SparkSession, sidecars: Seq[Sidecar],
      keyTypes: Seq[DataType]): Map[String, java.util.HashSet[Any]] = {
    import org.apache.spark.sql.functions.input_file_name
    // snapshot hits via get (one atomic read per sidecar — containsKey
    // then get raced with a concurrent clear and could serve null); a
    // set evicted between the two calls just degrades to a miss
    val hits = sidecars.flatMap { sc =>
      Option(keySetCache.get(cacheKey(sc, keyTypes))).map(sc.dir.toString -> _)
    }.toMap
    val misses = sidecars.filterNot(sc => hits.contains(sc.dir.toString))
    if (misses.isEmpty) return hits
    val convs = keyTypes.map(
      CatalystTypeConverters.createToCatalystConverter).toArray
    // sidecar dir NAMES (d<nanos>-<uuid>) are globally unique — the
    // part-file path inside keys.parquet/ maps back through them
    val byName = misses.map(sc =>
      sc.dir.getFileName.toString -> sc.dir.toString).toMap
    val fresh = new scala.collection.mutable.HashMap[String, java.util.HashSet[Any]]()
    misses.foreach(sc => fresh(sc.dir.toString) = new java.util.HashSet[Any]())
    // under each frame's footer schema (driver-side, memoized): no
    // inference job, and frames stored under different column names
    // (a re-keyed history) read as separate groups — one read per
    // distinct schema, normally one — instead of binding to one
    // footer's names and reading the others as NULLs
    misses.groupBy(sc => SchemaEvolution.uniformFooterSchema(spark, sc.keysPath))
      .toSeq.flatMap { case (schema, group) =>
        val frame = schema.fold(spark.read)(spark.read.schema)
          .parquet(group.map(_.keysPath): _*)
        require(frame.schema.size == keyTypes.size,
          s"sidecar key frames ${group.map(_.keysPath).mkString(", ")} " +
            s"hold ${frame.schema.size} column(s), the probe expects " +
            keyTypes.size)
        val cols = frame.schema.fields.zip(keyTypes).map {
          case (f, t) if f.dataType == t => col(f.name)
          case (f, t: NumericType) if f.dataType.isInstanceOf[NumericType] &&
              Cast.canUpCast(f.dataType, t) => col(f.name).cast(t)
          case (f, t) => throw new IllegalStateException(
            s"sidecar key column '${f.name}' is stored as " +
              s"${f.dataType.sql} and cannot probe ${t.sql} values " +
              s"losslessly (${group.map(_.keysPath).mkString(", ")})")
        }
        frame.select(input_file_name() +: cols.toSeq: _*).collect()
      }.foreach { r =>
        r.getString(0).split('/').collectFirst {
          case s if byName.contains(s) => byName(s)
        }.foreach { dir =>
          // stored keys are non-null by the write contract; a null
          // component (legacy/corrupt) can never match a row probe
          val k = probeKey(convs.length,
            i => if (r.isNullAt(i + 1)) null else convs(i)(r.get(i + 1)))
          if (k != null) fresh(dir).add(k)
        }
      }
    misses.foreach(sc => cachePut(cacheKey(sc, keyTypes), fresh(sc.dir.toString)))
    // serve this call from the freshly built sets (large ones too) plus
    // the pre-captured hits — never back through the cache, which the
    // bound may just have cleared
    sidecars.map(sc => sc.dir.toString ->
      fresh.getOrElse(sc.dir.toString, hits(sc.dir.toString))).toMap
  }

  /** The reader-level key filter of one affected group — serialized to
    * executors with its (bounded, ≤ [[MaxKeys]]) deleted-key set in
    * CATALYST internal form (UTF8String/Long/...), probed per row.
    * Composite keys probe a List of the components (any-NULL component
    * keeps the row — SQL equality can never have matched it).
    */
  final class FilteringReaderFactory(
      inner: org.apache.spark.sql.connector.read.PartitionReaderFactory,
      keyIdxs: Array[Int],
      keyTypes: Array[org.apache.spark.sql.types.DataType],
      deleted: java.util.HashSet[Any])
    extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
    import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader}

    /** The row's probe element — null when any component is NULL (keep). */
    private def keyOf(r: InternalRow): Any = probeKey(keyIdxs.length,
      i => if (r.isNullAt(keyIdxs(i))) null else r.get(keyIdxs(i), keyTypes(i)))

    // the SCAN interface stays row-based (eq-deletes filter per row —
    // the Iceberg read tax until compact folds), but the DECODING does
    // not have to be: see createReader
    override def supportColumnarReads(p: InputPartition): Boolean = false

    override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
      // VECTORIZED DECODE under the row interface (round 16): when the
      // stock factory can serve ColumnarBatches (vectorized reader on,
      // atomic schema), decode through it and probe rows off
      // `rowIterator()` — parquet pages decompress through the
      // vectorized column readers instead of parquet-mr's per-record
      // assembly, and each emitted row is a live batch view consumed
      // one-at-a-time by the exec's projection (never buffered). The
      // Iceberg shape: delete files apply per row while the decode
      // stays columnar.
      if (inner.supportColumnarReads(p)) {
        val in = inner.createColumnarReader(p)
        new PartitionReader[InternalRow] {
          private var it: java.util.Iterator[InternalRow] =
            java.util.Collections.emptyIterator()
          private var current: InternalRow = _
          override def next(): Boolean = {
            while (true) {
              while (it.hasNext) {
                val r = it.next()
                val k = keyOf(r)
                if (k == null || !deleted.contains(k)) {
                  current = r; return true
                }
              }
              if (!in.next()) return false
              it = in.get().rowIterator()
            }
            false
          }
          override def get(): InternalRow = current
          override def close(): Unit = in.close()
        }
      } else {
        val in = inner.createReader(p)
        new PartitionReader[InternalRow] {
          private var current: InternalRow = _
          override def next(): Boolean = {
            while (in.next()) {
              val r = in.get()
              val k = keyOf(r)
              if (k == null || !deleted.contains(k)) { current = r; return true }
            }
            false
          }
          override def get(): InternalRow = current
          override def close(): Unit = in.close()
        }
      }
    }
  }
}

/** The DataFrame-level key probe of [[EqDeletes.logicalMorRead]]: true
  * (keep) unless the row's key tuple is in `deleted`, the driver-built
  * union of one file group's applicable sidecar sets under one stored
  * key signature. A row with a NULL key component is kept, the rule the
  * catalog reader's probe shares ([[EqDeletes.probeKey]]). Not
  * translatable to a data-source filter, so it never reaches a scan's
  * pushed filters, and it prints only its sidecar count and set size.
  * Analysis fails when the key columns do not resolve to `keyTypes`,
  * the types the set was built in: probing other types would match
  * nothing.
  */
private[graft] case class EqDeleteProbe(children: Seq[Expression],
    keyTypes: Seq[DataType], deleted: EqDeleteProbe.Keys)
  extends Expression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType) == keyTypes) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"equality-delete probe built for ${keyTypes.map(_.sql).mkString(",")}" +
        s" cannot probe ${children.map(_.dataType.sql).mkString(",")}")
  override def eval(input: InternalRow): Any = {
    val k = EqDeletes.probeKey(children.length, i => children(i).eval(input))
    k == null || !deleted.set.contains(k)
  }
  override def toString: String =
    s"eq_delete_probe(${children.mkString(", ")}; $deleted)"
  override def sql: String = toString
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EqDeleteProbe =
    copy(children = newChildren)
}

private[graft] object EqDeleteProbe {
  /** The probe set, compared by identity (a structural equals or
    * hashCode over up to [[EqDeletes.MaxKeys]] keys would run on every
    * plan comparison).
    */
  final class Keys(val set: java.util.HashSet[Any], val sidecars: Int)
      extends Serializable {
    override def toString: String = s"$sidecars sidecar(s), ${set.size} keys"
  }
}

/** The catalog scan of a snapshot with PENDING equality deletes (see
  * [[EqDeletes]]): files split by applicable-sidecar signature, each
  * group re-planned through the stock `ParquetTable` machinery with the
  * recorded filters re-pushed and columns pruned PLUS the key column
  * (the reader needs it to probe; the Project Spark keeps above a V2
  * scan drops the extra column for free). Affected groups read row-based
  * with the per-row key filter; the no-sidecar group keeps the stock
  * vectorized path untouched. No aggregate pushdown — a footer-credited
  * count would count deleted rows.
  */
private[sources] class EqDeleteScanBuilder(tableName: String,
    baseDir: String, tableSchema: StructType, keyCols: Seq[String],
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    sidecars: Seq[EqDeletes.Sidecar],
    filesOverride: Option[Seq[String]] = None)
  extends org.apache.spark.sql.connector.read.ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  import org.apache.spark.sql.catalyst.expressions.Expression
  import org.apache.spark.sql.connector.read._
  import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
  import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable

  private var recorded: Seq[Expression] = Nil
  private var required: StructType = tableSchema

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    recorded = filters
    filters // all residual upstream; re-pushed into each group's builder
  }
  override def pushedFilters(): Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = {
    val spark = SparkSession.active
    // pruned schema PLUS the key columns, in table order (uniform across
    // groups)
    val wanted = required.fieldNames.toSet ++ keyCols
    val pruned = StructType(tableSchema.fields.filter(f => wanted(f.name)))
    val keyTypes = keyCols.map(tableSchema(_).dataType)
    // an explicit file list comes from [[SplitEqDeleteScans]]' plan-level
    // split (this builder then serves ONLY the affected files; the
    // unaffected ones ride a stock columnar relation unioned beside it)
    val all = filesOverride.getOrElse(
      graft.plans.ZoneMap.dataFileCensus(spark, baseDir))
    val groups = EqDeletes.bySignature(all, sidecars)
    // when this builder still serves the WHOLE census (no session
    // extension split the relation pre-pushdown) and the census has
    // both clean and affected files, record everything the POST-pushdown
    // twin rule ([[SplitEqDeleteScanRelations]]) needs to restore the
    // Union shape — the round-16 split, unconditional on session wiring
    val splitSpec = if (filesOverride.isDefined) None else {
      val (unaffected, affected) = EqDeletes.affectedSplit(all, sidecars)
      if (unaffected.isEmpty || affected.isEmpty) None
      else Some(EqDeleteSplitSpec(tableName, baseDir, tableSchema, keyCols,
        options, sidecars, recorded, pruned, unaffected, affected))
    }
    // warm every sidecar's key set in ONE batched read before the group
    // loop — per-group loading would pay one Spark job per cache-missing
    // group (a 64-sidecar stack made every scan a job storm)
    EqDeletes.internalKeySets(spark, sidecars, keyTypes)
    val built = groups.map { case (files, applicable) =>
      val opts = new java.util.HashMap[String, String]()
      opts.put("mergeSchema", "true")
      val sb = ParquetTable(tableName, spark,
        new org.apache.spark.sql.util.CaseInsensitiveStringMap(opts),
        files.map(f => s"$baseDir/$f"), Some(tableSchema),
        classOf[ParquetFileFormat]).newScanBuilder(options)
        .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScanBuilder]
      sb.pushFilters(recorded)
      sb.pruneColumns(pruned)
      val scan = sb.build()
      val deleted =
        if (applicable.isEmpty) None
        else Some(EqDeletes.internalKeySet(spark, applicable, keyTypes))
      (scan, deleted)
    }
    val readSchema = built.headOption.map(_._1.readSchema()).getOrElse(pruned)
    new EqDeleteScan(tableName, built, readSchema,
      keyCols.map(readSchema.fieldIndex).toArray, keyTypes.toArray,
      splitSpec)
  }
}

/** Everything [[SplitEqDeleteScanRelations]] needs to re-plan a built
  * whole-census eq-delete scan as Union(stock clean scan, affected-only
  * eq-delete scan) AFTER pushdown already ran: the recorded filters and
  * pruned schema replay into each side's fresh builder.
  */
private[sources] final case class EqDeleteSplitSpec(tableName: String,
    baseDir: String, tableSchema: StructType, keyCols: Seq[String],
    options: org.apache.spark.sql.util.CaseInsensitiveStringMap,
    sidecars: Seq[EqDeletes.Sidecar],
    recorded: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    pruned: StructType, unaffected: Seq[String], affected: Seq[String])

private[sources] class EqDeleteScan(tableName: String,
    groups: Seq[(org.apache.spark.sql.connector.read.Scan, Option[java.util.HashSet[Any]])],
    schema: StructType, keyIdxs: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    private[sources] val splitSpec: Option[EqDeleteSplitSpec] = None)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.connector.read._

  override def readSchema(): StructType = schema

  /** Round 20 (verdict item 3): without statistics this scan's relation
    * falls back to `spark.sql.defaultSizeInBytes` — effectively
    * infinite — so a dimension-sized MOR table with ONE pending sidecar
    * silently degrades every join against it to sort-merge until
    * `CALL compact` folds. The estimate sums the wrapped per-group file
    * scans' own (pruning-prorated) estimates and haircuts the pending
    * deleted keys at the read schema's row width — deletions only
    * shrink the served rows, and the inner estimates are what the
    * FOLDED table would report, so the estimate stays within the same
    * trust tier as a stock parquet relation's.
    */
  override def estimateStatistics(): Statistics = {
    val sizes = groups.map {
      case (s: SupportsReportStatistics, _) =>
        s.estimateStatistics().sizeInBytes()
      case _ => java.util.OptionalLong.empty()
    }
    val est: java.util.OptionalLong =
      if (sizes.exists(!_.isPresent)) java.util.OptionalLong.empty()
      else {
        val total = sizes.map(_.getAsLong).sum
        val deletedKeys = groups.flatMap(_._2).map(_.size().toLong).sum
        val rowWidth = math.max(1, schema.defaultSize).toLong
        java.util.OptionalLong.of(
          math.max(0L, total - deletedKeys * rowWidth))
      }
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong = est
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def description(): String = {
    val affected = groups.count(_._2.isDefined)
    s"EqDeleteScan($tableName, ${groups.size} groups, $affected filtered)"
  }

  /** Uniformly row-based while sidecars are pending: affected groups
    * MUST read row-by-row (the key probe), and Spark 4's
    * `DataSourceV2ScanExecBase.supportsColumnar` refuses a scan whose
    * partitions mix row-based and columnar ("Cannot mix row-based and
    * columnar input partitions") — the default PARTITION_DEFINED mode
    * would crash every post-delete SELECT the moment an append lands a
    * file outside all censuses (unaffected → columnar) next to affected
    * ones. The read tax ends when `CALL compact` folds the sidecars.
    */
  override def columnarSupportMode(): org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode =
    org.apache.spark.sql.connector.read.Scan.ColumnarSupportMode.UNSUPPORTED

  override def toBatch: Batch = new Batch {
    private lazy val batches = groups.map { case (s, del) => (s.toBatch, del) }
    override def planInputPartitions(): Array[InputPartition] =
      batches.zipWithIndex.flatMap { case ((b, _), gi) =>
        b.planInputPartitions().map(p => EqDeleteGroupedPartition(gi, p))
      }.toArray
    override def createReaderFactory(): PartitionReaderFactory = {
      val factories = batches.map { case (b, del) =>
        val f = b.createReaderFactory()
        del.fold(f)(ks =>
          new EqDeletes.FilteringReaderFactory(f, keyIdxs, keyTypes, ks))
      }
      new EqDeleteCompositeFactory(factories.toArray)
    }
  }
}

private case class EqDeleteGroupedPartition(group: Int,
    inner: org.apache.spark.sql.connector.read.InputPartition)
  extends org.apache.spark.sql.connector.read.InputPartition {
  override def preferredLocations(): Array[String] = inner.preferredLocations()
}

private class EqDeleteCompositeFactory(
    factories: Array[org.apache.spark.sql.connector.read.PartitionReaderFactory])
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.connector.read._
  private def of(p: InputPartition) = {
    val gp = p.asInstanceOf[EqDeleteGroupedPartition]
    (factories(gp.group), gp.inner)
  }
  override def createReader(p: InputPartition): PartitionReader[org.apache.spark.sql.catalyst.InternalRow] = {
    val (f, in) = of(p); f.createReader(in)
  }
  // uniformly row-based (EqDeleteScan.columnarSupportMode=UNSUPPORTED):
  // a per-partition answer here would re-open the mixed-mode crash
  override def supportColumnarReads(p: InputPartition): Boolean = false
}
