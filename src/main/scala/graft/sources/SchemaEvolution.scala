package graft.sources

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Tables.{TableProps, Warehouse}

/** Non-additive schema evolution for the plain-parquet warehouse —
  * the capability the reference inherits from Iceberg's field IDs
  * (columns are tracked by stable numeric id, so a rename is a metadata
  * edit and old data files keep resolving; `tabular.py`'s tables get
  * this transparently, and a real CDC source — DMS included — does
  * rename columns mid-stream).
  *
  * Plain parquet has only names, so the field-id table is externalized:
  * a durable registry in the warehouse `_metadata` ([[TableProps]])
  * records declared renames (`schema.rename.<old> = <new>`) and drops
  * (`schema.drop.<col>`). [[normalize]] is the read-side resolver that
  * makes files written under an OLD name rejoin the CURRENT column —
  * the same role Iceberg's id->name mapping plays at scan time.
  * Renames are DECLARED, not guessed: silently matching `name` to
  * `full_name` by position or similarity would corrupt tables on any
  * coincidental add+drop.
  *
  * Type WIDENING (int->long, float->double) needs no declaration — it
  * is resolved structurally. Spark 4's parquet reader promotes narrow
  * files to a wider requested schema natively; what breaks is
  * `mergeSchema` inference across mixed-width files
  * (CANNOT_MERGE_SCHEMAS — measured, not assumed). [[readWidened]] is
  * the replacement: infer per file GROUP (each group is one uniform
  * commit), merge with numeric widening, and read everything under one
  * explicit widened schema — missing columns come back as typed nulls
  * exactly like mergeSchema's union.
  */
object SchemaEvolution {

  private def renameKey(from: String) = s"schema.rename.$from"
  private val RenamePrefix = "schema.rename."
  private def dropKey(c: String) = s"schema.drop.$c"
  private val DropPrefix = "schema.drop."

  /** Declare that source column `from` is now called `to` — a metadata
    * commit, no data rewritten (old files resolve through [[normalize]]).
    * The CDC key and ts columns cannot be renamed: every stored layout
    * (bucket hashes, fold config) is keyed on them.
    */
  /** Columns every stored layout for `table` is keyed on — the set
    * rename/drop must refuse. Sources: the reference-style CDC props in
    * the table's own registry AND a merge-on-read mirror's nested layout
    * props (`<table>/_metadata/base.json`, `mor.key-column`/`mor.ts-
    * column`) — the review found the original guard only read the
    * former, making it a no-op for exactly the layout keyed hardest on
    * those columns.
    */
  private def protectedColumns(wh: Warehouse, table: String): Map[String, String] = {
    val outer = TableProps.read(wh, table)
    val nested = TableProps.read(Warehouse(s"${wh.root}/$table"), "base")
    (Seq("cdc.key-column", "cdc.ts-column").flatMap(k =>
      outer.get(k).map(k -> _)) ++
      Seq("mor.key-column", "mor.ts-column").flatMap(k =>
        nested.get(k).map(k -> _))).toMap
  }

  def declareRename(wh: Warehouse, table: String, from: String, to: String): Unit = {
    require(from.nonEmpty && to.nonEmpty && from != to,
      s"bad rename '$from' -> '$to'")
    val props = TableProps.read(wh, table)
    protectedColumns(wh, table).foreach { case (k, v) =>
      require(v != from && v != to,
        s"cannot rename the CDC $k ('$v') — stored layouts are keyed on it")
    }
    val updated = props + (renameKey(from) -> to)
    // reject cycles loudly (a->b, b->a would make resolution spin)
    val rn = rawRenames(updated)
    var seen = Set.empty[String]
    var cur = from
    while (rn.contains(cur)) {
      require(!seen.contains(cur), s"rename cycle through '$cur'")
      seen += cur; cur = rn(cur)
    }
    TableProps.write(wh, table, updated)
  }

  /** Declare column `c` dropped: it disappears from every read-side view
    * (old files keep the bytes; a compaction rewrite sheds them).
    */
  def declareDrop(wh: Warehouse, table: String, c: String): Unit = {
    val props = TableProps.read(wh, table)
    protectedColumns(wh, table).foreach { case (k, v) =>
      require(v != c, s"cannot drop the CDC $k ('$v')")
    }
    TableProps.write(wh, table, props + (dropKey(c) -> "true"))
  }

  private def rawRenames(props: Map[String, String]): Map[String, String] =
    props.collect { case (k, v) if k.startsWith(RenamePrefix) =>
      k.stripPrefix(RenamePrefix) -> v
    }

  /** Declared renames resolved TRANSITIVELY to the current name
    * (a->b then b->c yields a->c and b->c).
    */
  def renames(wh: Warehouse, table: String): Map[String, String] = {
    val raw = rawRenames(TableProps.read(wh, table))
    raw.keys.map { from =>
      var cur = from
      var hops = 0
      while (raw.contains(cur) && hops <= raw.size) { cur = raw(cur); hops += 1 }
      from -> cur
    }.toMap
  }

  def drops(wh: Warehouse, table: String): Set[String] =
    TableProps.read(wh, table).keySet
      .filter(_.startsWith(DropPrefix)).map(_.stripPrefix(DropPrefix))

  private def widenKey(c: String) = s"schema.widen.$c"
  private val WidenPrefix = "schema.widen."

  /** Declare column `c` PROMOTED to `target` — the Iceberg metadata-only
    * type promotion (int->long, float->double; nothing else), expressed
    * as a registry entry: no data rewrites, history files keep their
    * narrow bytes, and the SQL face serves the widened schema (Spark 4's
    * parquet reader promotes narrow files to a wider REQUESTED schema
    * natively — the structural contract [[readWidened]] already rides).
    * Layout-keyed columns refuse: bucket routing hashes the key's BYTES,
    * and `hash(1: int) != hash(1L)`.
    */
  def declareWiden(wh: Warehouse, table: String, c: String,
      target: DataType): Unit = {
    require(target == LongType || target == DoubleType,
      s"only int->bigint and float->double promote losslessly; got $target")
    protectedColumns(wh, table).foreach { case (k, v) =>
      require(v != c,
        s"cannot retype the CDC $k ('$v') — bucket layouts hash its bytes")
    }
    val props = TableProps.read(wh, table)
    TableProps.write(wh, table,
      props + (widenKey(c) -> target.typeName))
  }

  /** Declared type promotions (column -> widened type). */
  def declaredWidens(wh: Warehouse, table: String): Map[String, DataType] =
    TableProps.read(wh, table).collect {
      case (k, v) if k.startsWith(WidenPrefix) =>
        k.stripPrefix(WidenPrefix) -> (v match {
          case "long" | "bigint" => LongType
          case "double" => DoubleType
          case other => throw new IllegalStateException(
            s"unparseable widen declaration '$other' for '$k'")
        })
    }

  /** Serve `schema` under the declared promotions — the read-side half
    * of [[declareWiden]] (the scan requests the wide type; narrow files
    * promote natively).
    */
  def applyWidens(schema: StructType, widens: Map[String, DataType]): StructType =
    if (widens.isEmpty) schema
    else StructType(schema.fields.map { f =>
      widens.get(f.name) match {
        case Some(LongType) if f.dataType == IntegerType ||
            f.dataType == ShortType || f.dataType == ByteType =>
          f.copy(dataType = LongType)
        case Some(DoubleType) if f.dataType == FloatType =>
          f.copy(dataType = DoubleType)
        case _ => f // already wide (post-promotion files), or absent
      }
    })

  /** Resolve a frame (possibly read from files written under old names)
    * to the CURRENT schema: renamed columns rejoin their history (when a
    * mergeSchema-style union surfaced BOTH the old and new name, the new
    * one wins row-wise via coalesce — a single physical row only ever
    * carries one of them), dropped columns disappear. Idempotent; a
    * frame already current passes through untouched.
    */
  def normalize(df: DataFrame, wh: Warehouse, table: String): DataFrame =
    normalizeWith(df, renames(wh, table), drops(wh, table))

  def normalizeWith(df: DataFrame, renames: Map[String, String],
      drops: Set[String]): DataFrame = {
    var out = df
    renames.foreach { case (from, to) =>
      if (out.columns.contains(from)) {
        out =
          if (out.columns.contains(to))
            out.withColumn(to,
              coalesce(col(to), col(from).cast(out.schema(to).dataType)))
              .drop(from)
          else out.withColumnRenamed(from, to)
      }
    }
    drops.foreach { c => if (out.columns.contains(c)) out = out.drop(c) }
    out
  }

  /** Merge schemas by name with NUMERIC WIDENING where plain merge would
    * refuse: integral types widen to the widest present, float widens to
    * double. Anything structurally incompatible still fails loudly — a
    * string-vs-long conflict is a data bug, not an evolution.
    */
  def mergeWidened(schemas: Seq[StructType]): StructType = {
    require(schemas.nonEmpty, "no schemas to merge")
    val order = Seq.empty[String] ++ schemas.flatMap(_.fieldNames).distinct
    val byName = new scala.collection.mutable.HashMap[String, DataType]()
    val integral: Set[DataType] = Set(ByteType, ShortType, IntegerType, LongType)
    def widen(a: DataType, b: DataType): DataType = (a, b) match {
      case (x, y) if x == y => x
      case (x, y) if integral(x) && integral(y) =>
        if (x.defaultSize >= y.defaultSize) x else y
      case (FloatType, DoubleType) | (DoubleType, FloatType) => DoubleType
      case (x, DoubleType) if integral(x) => DoubleType // int file vs double file
      case (DoubleType, y) if integral(y) => DoubleType
      case (x: StructType, y: StructType) =>
        val yf = y.fields.map(f => f.name -> f).toMap
        StructType(
          x.fields.map(f => yf.get(f.name).fold(f)(g =>
            f.copy(dataType = widen(f.dataType, g.dataType),
              nullable = f.nullable || g.nullable))) ++
            y.fields.filterNot(f => x.fieldNames.contains(f.name)))
      case (ArrayType(x, n1), ArrayType(y, n2)) =>
        ArrayType(widen(x, y), n1 || n2)
      case (x, y) => throw new IllegalArgumentException(
        s"cannot widen $x vs $y — not a supported schema evolution")
    }
    schemas.foreach(_.fields.foreach { f =>
      byName(f.name) = byName.get(f.name).fold(f.dataType)(widen(_, f.dataType))
    })
    StructType(order.map(n => StructField(n, byName(n), nullable = true)))
  }

  /** Read a set of file GROUPS (each group one uniform commit: a version
    * dir, a delta batch dir, a changelog batch subdir) that may straddle
    * renames and widenings: per-group single-footer inference, widened
    * merge, one explicit-schema scan over all of them. Spark's parquet
    * reader fills missing columns with nulls and promotes narrow
    * numerics natively, so the result is exactly the mergeSchema union
    * mergeSchema itself cannot produce across widths.
    */
  def readWidened(spark: SparkSession, groups: Seq[String],
      recursive: Boolean = true): DataFrame = {
    require(groups.nonEmpty, "no paths to read")
    // uniform shortcut across ALL groups (round 21): when every group
    // resolves to the same single footer schema, read under it with no
    // inference job — identical to mergeSchema over identical schemas
    val perGroup = groups.map(g => uniformFooterSchema(spark, g))
    if (perGroup.forall(_.isDefined) && perGroup.flatten.distinct.size == 1)
      return spark.read.schema(perGroup.head.get)
        .option("recursiveFileLookup", recursive.toString)
        .parquet(groups: _*)
    // FAST PATH first: plain mergeSchema handles the overwhelmingly
    // common cases (uniform schema, additive columns, renames — which
    // merge as distinct names) with one distributed footer pass;
    // per-group driver-side inference costs ~a listing + footer per
    // group and measurably taxed every MOR read when applied
    // unconditionally (caught by the round-11 bench gate). Only an
    // actual WIDTH conflict throws, and only then is the widened-merge
    // path paid.
    try spark.read.option("mergeSchema", "true")
      .option("recursiveFileLookup", recursive.toString)
      .parquet(groups: _*)
    catch {
      case e: org.apache.spark.SparkException
          if Option(e.getMessage).exists(_.contains("CANNOT_MERGE_SCHEMAS")) =>
        val schemas = groups.map(g =>
          spark.read.option("recursiveFileLookup", recursive.toString)
            .parquet(g).schema)
        spark.read.schema(mergeWidened(schemas))
          .option("recursiveFileLookup", recursive.toString)
          .parquet(groups: _*)
    }
  }

  /** Driver-side uniform-footer schema shortcut (round 21): when a flat
    * layout's ≤64 visible data files all carry the SAME Spark schema once
    * nullability is relaxed, the inference Spark would run as a
    * distributed footer-merge JOB is computed on the driver instead — the
    * same ParquetToSparkSchemaConverter Spark's own inference uses,
    * relaxed at every depth exactly as both the V1 read path and V2
    * ParquetTable relax it (`asNullable`). Uniformity is decided AFTER
    * the relaxation: a `required` key column (merge-on-read delta files
    * write the key REQUIRED) beside `optional` base files merges to the
    * same nullable field Spark infers, so it is no reason to decline.
    * Declines — returning None, caller infers as before — on: census
    * unavailable/empty/oversized, partition-dir layouts (`=` components
    * add discovered columns), heterogeneous schemas (evolution
    * straddles), or any read failure. Every decline is counted by reason
    * ([[uniformDeclines]]); a read failure is also logged once per path.
    * Footer opens ride the [[graft.plans.ZoneMap.footerStats]] memo, so
    * repeated resolutions of the same immutable snapshot cost zero I/O.
    */
  private val UniformSchemaMaxFiles = 64

  /** Decline reasons of [[uniformFooterSchema]] (the keys of
    * [[uniformDeclines]]). */
  object Decline {
    val Census = "census"
    val PartitionDirs = "partition_dirs"
    val Heterogeneous = "heterogeneous"
    val ReadFailure = "read_failure"
    val all: Seq[String] = Seq(Census, PartitionDirs, Heterogeneous, ReadFailure)
  }

  private val declineCounts: Map[String, java.util.concurrent.atomic.AtomicLong] =
    Decline.all.map(_ -> new java.util.concurrent.atomic.AtomicLong).toMap

  /** Process-wide count of shortcut declines per [[Decline]] reason: a
    * decline on a non-empty census sends the caller to Spark's own
    * schema inference. */
  def uniformDeclines: Map[String, Long] = declineCounts.map { case (k, v) => k -> v.get }

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val failureLogged = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def declined(reason: String): Option[StructType] = {
    declineCounts(reason).incrementAndGet()
    None
  }

  private def readFailed(path: String, files: Int, e: Throwable): Option[StructType] = {
    // once per path: a broken dir re-resolved per statement must not
    // flood the log (bounded like the memos: past it, start over)
    if (failureLogged.size > 4096) failureLogged.clear()
    if (failureLogged.add(path))
      log.warn(s"event=schema_shortcut_decline reason=${Decline.ReadFailure} " +
        s"path=$path files=$files error=${e.getClass.getName} " +
        s"message=\"${String.valueOf(e.getMessage).replace("\"", "'").replaceAll("\\s+", " ")}\"")
    declined(Decline.ReadFailure)
  }

  /** Per-(path, census) memo of the DISTINCT raw footer schemas (parquet
    * MessageType text) — so a heterogeneous (evolution-straddling) dir
    * reads its footers once per distinct file set instead of on every
    * resolution. The value is conf-independent; conversion to a
    * StructType and the uniformity decision happen per call under the
    * live SQLConf. Same immutability contract as the r20 schema memo:
    * published version dirs are rename-free, and the footer memo's mtime
    * key guards the underlying reads.
    */
  private val UniformMemoMax = 1024
  private val uniformMemo =
    new java.util.LinkedHashMap[(String, Seq[(String, Long)]), Set[String]](
      64, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Seq[(String, Long)]), Set[String]])
          : Boolean = size() > UniformMemoMax
    }

  def uniformFooterSchema(spark: SparkSession, path: String,
      censusOpt: Option[Seq[(String, Long)]] = None): Option[StructType] = {
    // a plain single-file table (the testdata layout) is its own census
    val fileCensus: Option[Seq[(String, Long)]] =
      if (censusOpt.isDefined) None
      else try {
        val p = java.nio.file.Paths.get(path)
        if (java.nio.file.Files.isRegularFile(p))
          Some(Seq(("", java.nio.file.Files.size(p))))
        else None
      } catch { case _: java.io.IOException => None }
    val census = censusOpt.orElse(fileCensus)
      .orElse(GraftCatalog.schemaCensus(path))
      .getOrElse(return declined(Decline.Census))
    if (census.isEmpty || census.size > UniformSchemaMaxFiles)
      return declined(Decline.Census)
    if (census.exists(_._1.contains("="))) return declined(Decline.PartitionDirs)
    val relaxed = try {
      val memoKey = (path, census)
      val raw = uniformMemo.synchronized(Option(uniformMemo.get(memoKey)))
        .getOrElse {
          val conf = spark.sessionState.newHadoopConf()
          // parallel first-touch: the memo makes repeats free, but a
          // cold snapshot pays one footer open per file — read them
          // like fileCensus does (footers only, no data pages)
          import scala.collection.parallel.CollectionConverters._
          val schemas = census.par.map { case (rel, _) =>
            graft.plans.ZoneMap.footerStats(
              if (rel.isEmpty) path else s"$path/$rel", conf).schemaStr
          }.toSet.seq
          uniformMemo.synchronized { uniformMemo.put(memoKey, schemas); () }
          schemas
        }
      val converter = new org.apache.spark.sql.execution.datasources.parquet
        .ParquetToSparkSchemaConverter(spark.sessionState.conf)
      raw.map(str => org.apache.spark.sql.GraftSqlBridge.asNullable(converter.convert(
        org.apache.parquet.schema.MessageTypeParser.parseMessageType(str))))
    } catch {
      case scala.util.control.NonFatal(e) => return readFailed(path, census.size, e)
    }
    if (relaxed.size == 1) Some(relaxed.head) else declined(Decline.Heterogeneous)
  }

  /** [[readWidened]] for a TABLE directory: a `_kb=`-partitioned layout
    * infers per bucket dir (partial bucket rewrites leave mixed widths
    * across buckets) and keeps partition discovery; a flat/batch-subdir
    * layout infers per immediate subdir.
    */
  def readTableWidened(spark: SparkSession, root: String): DataFrame = {
    // driver-side shortcut first: a uniform flat snapshot reads under its
    // footer schema with NO inference job (identical result — see
    // uniformFooterSchema; heterogeneous/bucketed layouts decline and
    // take the paths below unchanged)
    uniformFooterSchema(spark, root).foreach { s =>
      return spark.read.schema(s)
        .option("recursiveFileLookup", "true").parquet(root)
    }
    // FAST PATH: resolve the layout and try one plain mergeSchema read —
    // the pre-evolution behavior, byte-identical cost. Only a width
    // conflict falls through to the per-group widened merge below.
    try {
      val rp = Paths.get(root)
      val isBucketed = Files.isDirectory(rp) && {
        val s = Files.list(rp.toRealPath())
        try s.iterator().asScala.exists(p =>
          Files.isDirectory(p) && p.getFileName.toString.contains("="))
        finally s.close()
      }
      val reader = spark.read.option("mergeSchema", "true")
      return if (isBucketed) reader.parquet(root)
      else reader.option("recursiveFileLookup", "true").parquet(root)
    } catch {
      case e: org.apache.spark.SparkException
          if Option(e.getMessage).exists(_.contains("CANNOT_MERGE_SCHEMAS")) =>
      // fall through to the widened path
    }
    val rootP = Paths.get(root)
    val allDirs: Seq[java.nio.file.Path] =
      if (!Files.isDirectory(rootP)) Seq.empty
      else {
        // FOLLOW the pointer symlink, then list real subdirs
        val s = Files.list(rootP.toRealPath())
        try s.iterator().asScala.filter(p => Files.isDirectory(p)).toSeq
        finally s.close()
      }
    // partition dirs (`_kb=3`) legitimately start with `_` — classify on
    // the `=` FIRST, and only treat underscore/dot dirs as hidden among
    // the rest
    val bucketDirs = allDirs.filter(_.getFileName.toString.contains("="))
    val subdirs = allDirs.filterNot(_.getFileName.toString.contains("="))
      .filterNot(_.getFileName.toString.startsWith("_"))
      .filterNot(_.getFileName.toString.startsWith("."))
    if (bucketDirs.nonEmpty) {
      // per-bucket inference (data cols only), then read the ROOT so
      // partition discovery restores the bucket column
      val schemas = bucketDirs.map(d =>
        spark.read.option("recursiveFileLookup", "true")
          .parquet(d.toString).schema)
      val partCol = bucketDirs.head.getFileName.toString.split("=")(0)
      val full = StructType(mergeWidened(schemas).fields :+
        StructField(partCol, IntegerType, nullable = true))
      spark.read.schema(full).parquet(root)
    } else if (subdirs.nonEmpty) {
      readWidened(spark, subdirs.map(_.toString))
    } else {
      // a FLAT version dir can itself be mixed-width: a fast append
      // lands wide files NEXT TO the carried narrow ones after an
      // ALTER COLUMN TYPE promotion. Per-FILE inference (bounded by the
      // version's file count) merges with widening and the one explicit
      // schema promotes every narrow file natively.
      try spark.read.option("recursiveFileLookup", "true")
        .option("mergeSchema", "true").parquet(root)
      catch {
        case e: org.apache.spark.SparkException
            if Option(e.getMessage).exists(_.contains("CANNOT_MERGE_SCHEMAS")) =>
          val s = Files.walk(rootP.toRealPath())
          val files =
            try s.iterator().asScala.filter { f =>
              val n = f.getFileName.toString
              n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
            }.map(_.toString).toSeq
            finally s.close()
          spark.read.schema(inferWidened(spark, files))
            .option("recursiveFileLookup", "true").parquet(root)
      }
    }
  }

  /** Widening-tolerant schema inference over an explicit FILE list (the
    * streaming source's pin-at-start schema): one footer per file,
    * merged with widening — restart after an upstream widening then
    * reads every old narrow file under the new wide schema.
    */
  def inferWidened(spark: SparkSession, files: Seq[String]): StructType =
    mergeWidened(files.map(f => spark.read.parquet(f).schema))
}
