package graft.sources

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{Path => HadoopPath}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{TypeCheckResult, UnresolvedAttribute}
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Union}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block.BlockHelper
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation, PartitionSpec}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOptions, ParquetUtils}
import org.apache.spark.sql.functions.{coalesce, col, lit}
import org.apache.spark.sql.types.{BooleanType, DataType, NumericType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

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
  * READ SIDE ([[logicalMorRead]]): every read — DML matching, the fold,
  * and the catalog scan, which [[SpliceMorReads]] splices in — reads
  * the unaffected files as one stock vectorized parquet relation and
  * the affected ones as a second, under an [[EqDeleteProbe]] filter
  * that probes each row's key against the driver-cached deleted keys
  * of the sidecars whose censuses name its file (the Iceberg eq-delete
  * read tax, until folded). Aggregate pushdown is NOT offered while
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
    * DeltaStress read_side, SCALE.md) stays FLAT once censuses narrow
    * and key sets load in one batch: 64 pending sidecars read at 0.18 s
    * vs 0.10 s clean on the 2M-row fixture in round 16, because each
    * affected group probes the union of its stacked key sets as one
    * HashSet. The trigger therefore bounds the *metadata* accumulation
    * instead: every DELETE pays a [[logicalMorRead]] over the stack to
    * compute its matched set, every scan re-groups by census signature,
    * and the driver key-set cache holds one entry per pending sidecar.
    * 16 keeps all three O(small) while folding at O(deletes/16)
    * frequency.
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
    * and every catalog read of a snapshot with pending sidecars, which
    * [[SpliceMorReads]] splices in place of the table's scan). It reads
    * at most two relations: the clean files (no census names them, no
    * tombstone) as a plain vectorized parquet relation, and every other
    * file as one relation that drops the ordinals its `.pos` files name
    * ([[PosDeletes.live]]) and filters through one driver-built
    * [[EqDeleteProbe]] per key signature the applicable sidecars were
    * WRITTEN under ([[Sidecar.storedKeyCols]]; the declared key for
    * pre-signature frames, which are positional in declared order) — a
    * historical sidecar deletes by ITS columns even after an API-level
    * re-key. The probe picks each row's key set by its data file: the
    * union of the sidecars whose censuses name that file. The sets come
    * from the [[internalKeySets]] cache, so a read whose sidecars are
    * cached runs no Spark job for them, and one whose sidecars are not
    * runs one job per stored key signature.
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
    val (clean, affected) = affectedSplit(
      files.getOrElse(graft.plans.ZoneMap.dataFileCensus(spark, snapshotDir)).sorted,
      eq, tombstoned)
    val applicable = affected.map(f => f -> eq.filter(_.census.contains(f))).toMap
    // every applicable sidecar's key set, loaded with ONE internalKeySets
    // call per stored signature
    val used = affected.flatMap(applicable).distinct
    val signature = used.map(sc => sc.dir.toString -> sc.storedKeyCols.getOrElse(keyCols)).toMap
    def typesOf(kc: Seq[String]): Seq[DataType] =
      kc.map(c => readSchema.find(_.name.equalsIgnoreCase(c))
        .getOrElse(throw new IllegalStateException(
          s"$snapshotDir: sidecar key column '$c' is not in the " +
            s"read schema ${readSchema.simpleString}")).dataType)
    val bySignature = used.groupBy(sc => signature(sc.dir.toString))
    val keySets = bySignature
      .flatMap { case (kc, scs) => internalKeySets(spark, scs, typesOf(kc)) }
    // fully qualified, as the file index lists them (a relative
    // warehouse root resolves against the working directory)
    val hfs = new HadoopPath(snapshotDir).getFileSystem(spark.sessionState.newHadoopConf())
    def qualified(f: String): HadoopPath = hfs.makeQualified(new HadoopPath(s"$snapshotDir/$f"))
    def relation(fs: Seq[String]): (LogicalRelation, InMemoryFileIndex) = {
      val index = new InMemoryFileIndex(spark, fs.map(qualified), Map.empty,
        Some(readSchema), userSpecifiedPartitionSpec = Some(PartitionSpec.emptySpec))
      (LogicalRelation(HadoopFsRelation(index, new StructType(),
        GraftSqlBridge.asNullable(readSchema), None, new ParquetFileFormat, Map.empty)(spark)),
        index)
    }
    // at most two relations, so the plan and its codegen stages keep one
    // shape however many file groups the sidecars' censuses cut: the
    // clean files, and every affected file under one probe per stored
    // signature that picks each row's key set by its data file
    val plans = Seq(clean).filter(_.nonEmpty).map(relation(_)._1) ++
      Seq(affected).filter(_.nonEmpty).map { fs =>
        val (rel, index) = relation(fs)
        // each listed file's `_metadata.file_path`: the URI string of
        // the listed path, as Spark's FileFormat.FILE_PATH extractor
        // renders it (so a space or '%' is percent-encoded)
        val relName = fs.map(f => qualified(f) -> f).toMap
        val pathOf = index.allFiles().map { st =>
          relName.getOrElse(st.getPath, throw new IllegalStateException(
            s"$snapshotDir: listed data file ${st.getPath} is not in the read's file set")) ->
            UTF8String.fromString(new HadoopPath(st.getPath.toString).toUri.toString)
        }.toMap
        val live: LogicalPlan =
          if (fs.exists(tombstoned)) Filter(GraftSqlBridge.expression(spark, PosDeletes.live(pos)), rel)
          else rel
        bySignature.toSeq.sortBy(_._1.mkString(",")).foldLeft(live) { case (acc, (kc, scs)) =>
          val byFile = new java.util.HashMap[UTF8String, EqDeleteProbe.Keys]()
          fs.groupBy(f => applicable(f).filter(scs.contains)).foreach { case (group, gfs) =>
            val keys = new EqDeleteProbe.Keys(
              unionOf(group.map(sc => keySets(sc.dir.toString))), group.size)
            gfs.foreach(f => byFile.put(pathOf(f), keys))
          }
          Filter(EqDeleteProbe(
            kc.map(c => UnresolvedAttribute.quoted(c)) :+ UnresolvedAttribute(Seq("_metadata", "file_path")),
            typesOf(kc) :+ StringType, new EqDeleteProbe.FileKeys(byFile, scs.size)), acc)
        }
      }
    if (plans.isEmpty) spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](), readSchema)
    else GraftSqlBridge.ofRows(spark, if (plans.size == 1) plans.head else Union(plans))
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

  /** (clean, affected): the data files no sidecar's census names and no
    * positional tombstone touches, and the rest — the line between the
    * stock vectorized relation and the probing one in
    * [[logicalMorRead]], and between the fold's carried and rewritten
    * files.
    */
  def affectedSplit(allFiles: Seq[String], sidecars: Seq[Sidecar],
      tombstoned: Set[String]): (Seq[String], Seq[String]) =
    allFiles.partition(f => !tombstoned(f) && !sidecars.exists(_.census.contains(f)))

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
        val (untouched, affected) =
          affectedSplit(all, sidecars, PosDeletes.affectedFiles(posDirs))
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
      keyTypes: Seq[DataType]): java.util.HashSet[Any] =
    unionOf(internalKeySets(spark, applicable, keyTypes).values.toSeq)

  /** One probe set over several sidecars' sets; a single set is returned
    * as is (probes only read it).
    */
  private def unionOf(sets: Seq[java.util.HashSet[Any]]): java.util.HashSet[Any] =
    if (sets.size == 1) sets.head
    else {
      val set = new java.util.HashSet[Any]()
      sets.foreach(set.addAll)
      set
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
}

/** The key probe of [[EqDeletes.logicalMorRead]]: true (keep) unless
  * the row's key tuple is in `deleted`, the driver-built union of the
  * applicable sidecar sets under one stored key signature
  * ([[EqDeleteProbe.FileKeys]] picks that union per data file). A row
  * with a NULL key component is kept ([[EqDeletes.probeKey]]). Not
  * translatable to a data-source filter, so it never reaches a scan's
  * pushed filters, and it prints only its sidecar count and set size.
  * Analysis fails when the children do not resolve to `keyTypes`, the
  * types the set was built in: probing other types would match nothing.
  * Generated code and `eval` both call [[EqDeleteProbe.Deleted.keeps]], so
  * the probe stays inside its stage's whole-stage codegen.
  */
private[graft] case class EqDeleteProbe(children: Seq[Expression],
    keyTypes: Seq[DataType], deleted: EqDeleteProbe.Deleted)
  extends Expression {
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.map(_.dataType) == keyTypes) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"equality-delete probe built for ${keyTypes.map(_.sql).mkString(",")}" +
        s" cannot probe ${children.map(_.dataType.sql).mkString(",")}")
  override def eval(input: InternalRow): Any =
    deleted.keeps(children.map(_.eval(input).asInstanceOf[AnyRef]).toArray)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val keys = ctx.addReferenceObj("eqDeleteKeys", deleted,
      classOf[EqDeleteProbe.Deleted].getName)
    val components = ctx.freshName("keyComponents")
    val fill = children.zipWithIndex.map { case (c, i) =>
      val e = c.genCode(ctx)
      s"""${e.code}
         |if (!${e.isNull}) $components[$i] = ${e.value};""".stripMargin
    }.mkString("\n")
    val body =
      s"""Object[] $components = new Object[${children.length}];
         |$fill
         |boolean ${ev.value} = $keys.keeps($components);""".stripMargin
    ev.copy(code = code"$body", isNull = FalseLiteral)
  }
  override def toString: String =
    s"eq_delete_probe(${children.mkString(", ")}; $deleted)"
  override def sql: String = toString
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): EqDeleteProbe =
    copy(children = newChildren)
}

private[graft] object EqDeleteProbe {
  /** What a probe asks of its deleted keys: keep the row whose key
    * components are these (NULL for a NULL component, in declared
    * order)? Compared by identity: a structural equals or hashCode over
    * up to [[EqDeletes.MaxKeys]] keys would run on every plan comparison.
    */
  sealed trait Deleted extends Serializable {
    def keeps(components: Array[AnyRef]): Boolean
  }

  /** One probe set: the union of `sidecars` sets. */
  final class Keys(val set: java.util.HashSet[Any], val sidecars: Int) extends Deleted {
    def keeps(components: Array[AnyRef]): Boolean = keepsFirst(components, components.length)
    /** [[keeps]] over the first `n` components. */
    def keepsFirst(components: Array[AnyRef], n: Int): Boolean = {
      val k = EqDeletes.probeKey(n, components(_))
      k == null || !set.contains(k)
    }
    override def toString: String = s"$sidecars sidecar(s), ${set.size} keys"
  }

  /** The probe sets of several data files: the last component is the
    * row's `_metadata.file_path`, which picks the set of the sidecars
    * whose censuses name that file (empty for a file none names). A row
    * of a file with no entry fails loudly: keeping it could resurrect a
    * deleted row. The path is constant within a file, so the map lookup
    * (a hash of the whole path) runs when the file changes, not per row.
    */
  final class FileKeys(byFile: java.util.HashMap[UTF8String, Keys], sidecars: Int)
      extends Deleted {
    // (file path, its set) of the last lookup; the path is copied, as
    // the row's value may point into a reused buffer
    @transient private[this] var last: (UTF8String, Keys) = _
    def keeps(components: Array[AnyRef]): Boolean = {
      val n = components.length - 1
      val file = components(n).asInstanceOf[UTF8String]
      var hit = last
      if (hit == null || hit._1 != file) {
        val keys = byFile.get(file)
        if (keys == null) throw new IllegalStateException(
          s"equality-delete probe has no key set for data file $file")
        hit = (file.clone(), keys)
        last = hit
      }
      hit._2.keepsFirst(components, n)
    }
    override def toString: String = s"$sidecars sidecar(s) over ${byFile.size} file(s)"
  }
}
