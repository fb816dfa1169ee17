package graft.cdcbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{count, lit, sum}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.{CdcConfig, PipelineSpec}
import graft.operators.Cdc
import graft.plans.MorMirror
import graft.sources.{EqDeletes, LocalWarehouseIO, WarehouseIO}
import graft.sources.Tables.Warehouse
import graft.streaming.CdcStream

/** One timed operation of a workload. `kind` is a write ("batch", "merge",
  * "delete"), a read ("scan", "point") or maintenance ("compact").
  */
final case class Op(kind: String, span: Span,
    changes: Long, pending: Int, pendingAfter: Int, ioCalls: Long, ioMs: Double, ioSwaps: Long,
    gcMs: Double, diskBytes: Long)

final case class Metric(name: String, value: Double, unit: String)

/** The benchmark's JVM side: `Main --workload <name> --seed <n>
  * --seconds <s> --trace <0|1> --work <dir> [--ops <file>]` runs one
  * workload in a fresh session and prints one JSON result line (see
  * `cdcbench/README.md`). An untraced run writes each operation kind's
  * median latency to `--ops`; a traced run reads the untraced run's file
  * from there to report its own overhead.
  */
object Main {
  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())
  val IngestMix = Mix(insert = 0.2, delete = 0.1, late = 0.05,
    hotShare = 0.3, hotKeys = 2000, groups = 16)
  val SqlMix = IngestMix.copy(groups = 64)

  /** `setupReps`: set-ups per run, `setup_s` is their median (the first
    * also warms the JVM). `compactEvery`: the stream's `morCompactEvery`,
    * 4 so that 12 timed batches hold three compactions. `warm`: untimed
    * batches first, so that the timed ones run on compiled code.
    */
  final case class IngestCfg(keys: Int, changes: Int, warm: Int,
      batchesPerSecond: Double, mor: Boolean, compactEvery: Int = 4, setupReps: Int = 3)
  val Trickle = IngestCfg(keys = 10000, changes = 500, warm = 6,
    batchesPerSecond = 0.6, mor = true)
  val Bulk = IngestCfg(keys = 50000, changes = 20000, warm = 1,
    batchesPerSecond = 0.25, mor = false)

  /** `scans`: GROUP BY reads per cycle, so `scan_mean_s` has 15 samples;
    * `compactEvery` 2, so the 2 warm-up cycles hold one compaction and the
    * 5 timed cycles three; a set-up costs about 1 s, so five fit.
    */
  final case class SqlCfg(rows: Int, mergeRows: Int, mergeUpdates: Int,
      warm: Int, cyclesPerSecond: Double, compactEvery: Int, scans: Int, setupReps: Int)
  val Sql = SqlCfg(rows = 30000, mergeRows = 500, mergeUpdates = 300,
    warm = 2, cyclesPerSecond = 0.25, compactEvery = 2, scans = 3, setupReps = 5)

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val opsFile = a.get("ops").map(Paths.get(_))
    val spark = session(work)
    Main.phase("session")
    val rec = if (trace) Some(new Recorder(spark)) else None
    val bench = new Bench(spark, rec, workload, seed, work, opsFile)
    val result =
      try workload match {
        case "cdc_trickle_mor" => bench.ingest(Trickle, seconds)
        case "cdc_bulk_flat" => bench.ingest(Bulk, seconds)
        case "sql_mor_dml" => bench.sql(Sql, seconds)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      } catch { case e: Exception => bench.crashed(e) }
    Main.phase("workload")
    println(result)
    spark.stop()
    Main.phase("stop")
  }

  private val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  def phase(name: String): Unit = System.err.println(
    f"[cdcbench] $name done at ${(System.currentTimeMillis() - jvmStart) / 1000.0}%.1f s")

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("cdcbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("spark-warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Iterable[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Runs one workload. Inputs are generated from the seed before any
  * timing starts; the engine only sees the landed files and the SQL text.
  */
final class Bench(spark: SparkSession, rec: Option[Recorder], workload: String,
    seed: Long, work: Path, opsFile: Option[Path]) {
  import Main._

  private val ops = mutable.ArrayBuffer.empty[Op]
  private var failed = 0
  private val setups = mutable.ArrayBuffer.empty[Span]
  private val inputs = work.resolve("inputs")
  private def repDir(r: Int) = work.resolve(s"rep$r")

  /** A read or final state that differs from the model fails its op. */
  private def check(ok: Boolean, what: => String): Unit =
    if (!ok) { failed += 1; System.err.println(s"[cdcbench] MISMATCH: $what") }

  /** Timed ops plus the final-state check. */
  private def attempted: Int = ops.size + 1

  def crashed(e: Exception): String = {
    failed += 1
    System.err.println(s"[cdcbench] FAILED: $e")
    e.printStackTrace()
    Bench.json(correct = false, attempted, failed, Seq.empty)
  }

  private def gcMs(): Double = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum.toDouble

  private def diskWriteBytes(): Long =
    try Files.readAllLines(Paths.get("/proc/self/io")).asScala
      .collectFirst { case l if l.startsWith("write_bytes:") => l.split(":")(1).trim.toLong }
      .getOrElse(0L)
    catch { case _: java.io.IOException => 0L }

  /** The commit-protocol counters (calls, nanoseconds, pointer swaps). */
  private def ioCounters: (Long, Long, Long) =
    rec.fold((0L, 0L, 0L))(r => (r.ioCalls.get, r.ioNanos.get, r.ioSwaps.get))

  /** Time one operation. */
  private def op[T](kind: String, changes: Long = 0, pending: => Int = -1)(f: => T): T = {
    val pendingBefore = pending
    val (c0, n0, s0) = ioCounters
    val g0 = gcMs(); val d0 = diskWriteBytes()
    val t0 = Clock.nowMs
    val r = f
    val t1 = Clock.nowMs
    val (c1, n1, s1) = ioCounters
    ops += Op(kind, Span(kind, t0, t1), changes, pendingBefore, pending,
      c1 - c0, (n1 - n0) / 1e6, s1 - s0, gcMs() - g0, diskWriteBytes() - d0)
    r
  }

  /** Time one set-up. */
  private def setup[T](f: => T): T = {
    val t0 = Clock.nowMs
    val r = f
    setups += Span("setup", t0, Clock.nowMs)
    r
  }

  private def land(staged: Path, dir: Path): Unit = {
    Files.createDirectories(dir)
    Files.move(staged, dir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
  }

  private def copyForLanding(f: Path, r: Int): Path = {
    val dst = repDir(r).resolve("stage").resolve(f.getFileName)
    Files.createDirectories(dst.getParent)
    Files.copy(f, dst)
  }

  // ---------------------------------------------------------------- ingest

  def ingest(cfg: IngestCfg, seconds: Double): String = {
    // CdcStream.start compacts a MOR mirror every compactEvery deltas, so
    // that many timed batches hold at least one compaction
    val timed = math.max(if (cfg.mor) cfg.compactEvery else 2,
      math.round(seconds * cfg.batchesPerSecond).toInt)
    val gen = new DmsGen(seed, IngestMix)
    val initial = gen.initialLoad(cfg.keys)
    val batches = Vector.fill(cfg.warm + timed)(gen.batch(cfg.changes))
    val model = new Model
    model.apply(initial)
    val expected = batches.map { b => model.apply(b); model.totals }
    val initialFile = inputs.resolve("dms_logs_00000.parquet")
    ParquetFiles.writeChanges(initialFile, initial)
    val files = batches.zipWithIndex.map { case (b, i) =>
      val f = inputs.resolve(f"dms_logs_${i + 1}%05d.parquet")
      ParquetFiles.writeChanges(f, b); f
    }

    Main.phase("inputs")
    val cdc = CdcConfig("id", "ts")
    var q: StreamingQuery = null
    var wh: Warehouse = null
    var src: Path = null
    (1 to cfg.setupReps).foreach { r =>
      if (q != null) { q.stop(); graft.sources.Tables.deleteRecursively(repDir(r - 1)) }
      val staged = copyForLanding(initialFile, r)
      wh = Warehouse(repDir(r).resolve("wh").toString,
        io = rec.fold[WarehouseIO](LocalWarehouseIO)(new CountingIO(LocalWarehouseIO, _)))
      src = repDir(r).resolve("src").resolve("orders")
      q = setup {
        land(staged, src)
        val s = CdcStream.start(spark, wh,
          PipelineSpec.forPrefix(src.toString, cdc),
          repDir(r).resolve("checkpoint").toString,
          trigger = Trigger.ProcessingTime(0L),
          mirrorBuckets = if (cfg.mor) Some(16) else None,
          mirrorMor = cfg.mor,
          morCompactEvery = cfg.compactEvery)
        s.processAllAvailable()
        s
      }
    }
    def mirror = if (cfg.mor) MorMirror.read(spark, wh, "orders")
      else Cdc.currentState(wh.read(spark, "orders"))
    def pending = if (cfg.mor) MorMirror.pendingDeltas(wh, "orders") else 0
    def readTotals(): (Long, Long) = {
      val r = mirror.agg(count(lit(1)), sum("amount")).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

    Main.phase("setups")
    try {
      (0 until cfg.warm).foreach { i =>
        land(files(i), src); q.processAllAvailable(); readTotals()
      }
      // warm the fold too, so the timed compactions run warm code; the
      // stream's schedule restarts from an empty delta tail
      if (cfg.mor) MorMirror.compact(spark, wh, "orders")
      val loopStart = Clock.nowMs
      (cfg.warm until files.size).foreach { i =>
        op("batch", changes = cfg.changes, pending = pending) {
          land(files(i), src); q.processAllAvailable()
        }
        val got = op("scan")(readTotals())
        check(got == expected(i), s"batch $i: mirror totals $got, model ${expected(i)}")
      }
      val loopS = (Clock.nowMs - loopStart) / 1000
      Main.phase("loop")
      val got = mirror.select("id", "name", "grp", "amount").collect()
        .map(r => r.getLong(0) -> Row(r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .toMap
      val want = model.visible
      check(got == want, s"final mirror: ${got.size} rows vs model ${want.size} " +
        s"(${(got.toSet diff want.toSet).size} differ)")
      val batches = ops.filter(_.kind == "batch").toSeq
      val routine = batches.filterNot(compacted).map(_.span.ms / 1000)
      result(loopS, batches.map(o => (o.span.ms / 1000, o.changes)), routine, ingest = true,
        repDir(cfg.setupReps).resolve("wh"), mor = cfg.mor)
    } finally q.stop()
  }

  // ------------------------------------------------------------------- sql

  def sql(cfg: SqlCfg, seconds: Double): String = {
    val timed = math.max(cfg.compactEvery, math.round(seconds * cfg.cyclesPerSecond).toInt)
    val gen = new DmsGen(seed, SqlMix)
    val model = new Model
    val initial = gen.initialLoad(cfg.rows)
    model.apply(initial)
    val initialFile = inputs.resolve("orders_initial.parquet")
    ParquetFiles.writeRows(initialFile,
      initial.map(c => Row(c.id, c.name, c.grp, c.amount)))
    val groupRnd = new java.util.SplittableRandom(seed ^ 0x9e0L)
    final case class Cycle(file: Path, rows: Int, grp: Int, deleted: Int,
        byGroup: Map[Int, (Long, Long)], point: Long, pointRow: Option[Row])
    val cycles = (0 until cfg.warm + timed).map { c =>
      val src = gen.mergeSource(cfg.mergeRows, cfg.mergeUpdates)
      val f = inputs.resolve(f"merge_$c%05d.parquet")
      ParquetFiles.writeRows(f, src)
      model.upsert(src)
      val grp = groupRnd.nextInt(SqlMix.groups)
      val ids = model.deleteGroup(grp)
      gen.deletedGroup(ids)
      val point = gen.someLive()
      Cycle(f, src.size, grp, ids.size, model.byGroup, point, model.get(point))
    }
    val finalRows = model.visible

    val schema = "id BIGINT, name STRING, grp INT, amount BIGINT"
    var cat = ""
    var wh: Warehouse = null
    (1 to cfg.setupReps).foreach { r =>
      cat = s"bench$r"
      val root = repDir(r).resolve("wh").toString
      if (r > 1) graft.sources.Tables.deleteRecursively(repDir(r - 1))
      setup {
        spark.conf.set(s"spark.sql.catalog.$cat", classOf[graft.sources.GraftCatalog].getName)
        spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
        spark.read.schema(schema).parquet(initialFile.toString)
          .createOrReplaceTempView("initial_rows")
        spark.sql(s"CREATE TABLE $cat.orders ($schema)")
        spark.sql(s"INSERT INTO $cat.orders SELECT id, name, grp, amount FROM initial_rows")
        spark.sql(s"ALTER TABLE $cat.orders SET TBLPROPERTIES (" +
          "'write.delete.mode'='merge-on-read', 'cdc.key-column'='id')")
        spark.sql(s"SELECT count(*) FROM $cat.orders").head().getLong(0)
      }
      wh = Warehouse(root)
    }
    def sidecars = EqDeletes.pending(wh.snapshotPath("orders")).size
    val t = s"$cat.orders"

    def runCycle(c: Cycle, i: Int, timedCycle: Boolean): Unit = {
      def step[T](kind: String, changes: Long = 0)(f: => T): T =
        if (timedCycle) op(kind, changes, pending = sidecars)(f) else f
      spark.read.schema(schema).parquet(c.file.toString).createOrReplaceTempView("src")
      step("merge", changes = c.rows) {
        spark.sql(s"""MERGE INTO $t t USING src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET name = s.name, grp = s.grp, amount = s.amount
          |WHEN NOT MATCHED THEN INSERT (id, name, grp, amount)
          |  VALUES (s.id, s.name, s.grp, s.amount)""".stripMargin)
      }
      step("delete", changes = c.deleted) {
        spark.sql(s"DELETE FROM $t WHERE grp = ${c.grp}")
      }
      (1 to cfg.scans).foreach { _ =>
        val groups = step("scan") {
          spark.sql(s"SELECT grp, count(*), sum(amount) FROM $t GROUP BY grp").collect()
        }.map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
        check(groups == c.byGroup, s"cycle $i: GROUP BY differs from the model")
      }
      val point = step("point") {
        spark.sql(s"SELECT id, name, grp, amount FROM $t WHERE id = ${c.point}").collect()
      }.map(r => Row(r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3))).toSeq
      check(point == c.pointRow.toSeq, s"cycle $i: point read of ${c.point} is $point")
      // the warm-up cycle compacts too, so the timed compactions run warm
      // code, each after a full stack of compactEvery cycles' sidecars
      if (i % cfg.compactEvery == 0)
        step("compact")(spark.sql(s"CALL $cat.system.compact('orders', 4)").collect())
    }

    (0 until cfg.warm).foreach(i => runCycle(cycles(i), i, timedCycle = false))
    val loopStart = Clock.nowMs
    val cycleWrites = (cfg.warm until cycles.size).map { i =>
      val first = ops.size
      runCycle(cycles(i), i, timedCycle = true)
      val w = ops.drop(first).filter(o => o.kind == "merge" || o.kind == "delete")
      (w.map(_.span.ms).sum / 1000, w.map(_.changes).sum)
    }
    val loopS = (Clock.nowMs - loopStart) / 1000
    val got = spark.sql(s"SELECT id, name, grp, amount FROM $t").collect()
      .map(r => r.getLong(0) -> Row(r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toMap
    check(got == finalRows, s"final table: ${got.size} rows vs model ${finalRows.size}")
    result(loopS, cycleWrites, cycleWrites.map(_._1), ingest = false,
      repDir(cfg.setupReps).resolve("wh"), mor = true)
  }

  // --------------------------------------------------------------- results

  private def bytesOnDisk(root: Path): Long = {
    val seen = mutable.HashSet.empty[AnyRef]
    val st = Files.walk(root)
    try st.iterator().asScala.foldLeft(0L) { (acc, p) =>
      val a = Files.readAttributes(p, classOf[BasicFileAttributes],
        java.nio.file.LinkOption.NOFOLLOW_LINKS)
      // hard-linked carries share one inode: count its bytes once
      if (a.isRegularFile && seen.add(Option(a.fileKey).getOrElse(p))) acc + a.size
      else acc
    } finally st.close()
  }

  /** A MOR batch after which the delta tail is shorter than before it (the
    * fold runs inside the batch that brings the tail to the threshold).
    */
  private def compacted(o: Op): Boolean = o.kind == "batch" && o.pendingAfter < o.pending

  /** Operations that compact: those batches and SQL `CALL compact`. */
  private def compactions: Seq[Op] = ops.filter(o => o.kind == "compact" || compacted(o)).toSeq

  /** `writes` holds (seconds until visible, changes) per write: a batch
    * when ingesting, a cycle's MERGE plus DELETE in SQL. `fresh` holds the
    * seconds of the writes that did not compact.
    *
    * Write and read latencies are means over the run, not medians: other
    * tenants of a shared host slow whole stretches of a run, and a median
    * of a dozen samples jumps when such a stretch covers about half of
    * them, while a mean moves in proportion. Compaction, three samples a
    * run, is a median, so one stalled fold does not move it.
    */
  private def result(loopS: Double, writes: Seq[(Double, Long)], fresh: Seq[Double],
      ingest: Boolean, whRoot: Path, mor: Boolean): String = {
    val scans = ops.filter(_.kind == "scan").map(_.span.ms / 1000)
    if (mor && compactions.isEmpty)
      throw new IllegalStateException("no timed operation compacted")
    val metrics =
      if (rec.isEmpty) Seq(
        Metric("setup_s", median(setups.map(_.ms / 1000).toSeq), "s"),
        Metric("freshness_mean_s", mean(fresh), "s"),
        Metric("changes_per_s", writes.map(_._2).sum / writes.map(_._1).sum, "1/s"),
        Metric("scan_mean_s", mean(scans), "s"),
        Metric("ops_per_s", ops.size / loopS, "1/s"),
        Metric("warehouse_mb", bytesOnDisk(whRoot) / 1e6, "MB")) ++
        (if (mor) Seq(Metric("compact_p50_s", median(compactions.map(_.span.ms / 1000)), "s"))
         else Seq.empty)
      else layerMetrics(ingest)
    if (rec.isEmpty) opsFile.foreach(writeOpMedians)
    System.err.println(s"[cdcbench] samples: ${writes.size} writes, ${scans.size} scans, " +
      s"${ops.size} ops in ${"%.1f".format(loopS)} s; setups ${setups.map(s => "%.2f".format(s.ms / 1000)).mkString(",")}; " +
      ops.groupBy(_.kind).map { case (k, os) => s"$k ms ${os.map(o => "%.0f".format(o.span.ms)).mkString(" ")}" }.mkString("; "))
    Bench.json(correct = failed == 0, attempted, failed, metrics)
  }

  /** Median latency per operation kind, one `kind ms` line each. */
  private def opMedians: Map[String, Double] =
    ops.groupBy(_.kind).map { case (k, os) => k -> median(os.map(_.span.ms).toSeq) }

  private def writeOpMedians(file: Path): Unit = {
    val staged = file.resolveSibling(s"${file.getFileName}.tmp")
    Files.write(staged, opMedians.map { case (k, ms) => s"$k $ms" }.toSeq.sorted.asJava)
    Files.move(staged, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** The traced run's latency over the untraced run's (same workload and
    * seed, read from `--ops`), per operation kind (kinds differ by orders
    * of magnitude), combined as a geometric mean, in percent.
    */
  private def overheadPct: Double = {
    val file = opsFile.getOrElse(throw new IllegalArgumentException(
      "a traced run needs the untraced run's --ops file"))
    val untraced = Files.readAllLines(file).asScala.map(_.split(" "))
      .collect { case Array(k, ms) => k -> ms.toDouble }.toMap
    val ratios = opMedians.toSeq.flatMap { case (k, ms) => untraced.get(k).map(ms / _) }
    require(ratios.nonEmpty, s"$file holds no operation kind of this run")
    (math.exp(ratios.map(math.log).sum / ratios.size) - 1) * 100
  }

  /** Per-layer metrics, each a mean per operation of the named kind. */
  private def layerMetrics(ingest: Boolean): Seq[Metric] = {
    val r = rec.get
    r.drain()
    val sqlKinds = Seq("merge", "delete", "scan", "point", "compact")
    // the operation a write-path layer serves: the batch when ingesting,
    // every statement in SQL
    val primary = ops.filter(o => if (ingest) o.kind == "batch" else sqlKinds.contains(o.kind))
    val batches = ops.filter(_.kind == "batch")
    def progressMs(keys: String*) = mean(batches.map(o =>
      r.progressIn(o.span).map(p => keys.map(k => p.durations.getOrElse(k, 0L)).sum).sum.toDouble))
    def jobSpans(o: Op) = r.jobsIn(o.span).map(j => Span(s"${j.name} [${j.scopes}]", j.start, j.end))
    def inferenceJobs(s: Span) = r.jobsIn(s).count(j => Bench.isInference(j.name, j.scopes))
    val sqlMetrics = if (ingest) sqlKinds.flatMap(k => Seq(
      Metric(s"sql.$k.ms", 0, "ms"), Metric(s"sql.$k.pending_sidecars", 0, "count"),
      Metric(s"sql.$k.planning_ms", 0, "ms"), Metric(s"sql.$k.plan_nodes", 0, "count"),
      Metric(s"sql.$k.jobs", 0, "count")))
    else sqlKinds.flatMap { k =>
      val all = ops.filter(_.kind == k)
      Seq(
        Metric(s"sql.$k.ms", mean(all.map(_.span.ms)), "ms"),
        Metric(s"sql.$k.pending_sidecars", mean(all.map(_.pending.toDouble)), "count"),
        Metric(s"sql.$k.planning_ms", mean(all.map(o => r.plannedIn(o.span).map(_.planningMs).sum)), "ms"),
        Metric(s"sql.$k.plan_nodes", mean(all.map(o => r.plannedIn(o.span).map(_.planNodes).sum.toDouble)), "count"),
        Metric(s"sql.$k.jobs", mean(all.map(o => r.jobsIn(o.span).size.toDouble)), "count"))
    }
    val spanFile = work.getParent.resolve(s"trace-$workload-$seed.jsonl")
    writeSpans(spanFile, primary.toSeq, jobSpans)
    Seq(
      Metric("cdc.detect_ms", progressMs("latestOffset", "getBatch"), "ms"),
      Metric("cdc.add_batch_ms", progressMs("addBatch"), "ms"),
      Metric("cdc.wal_ms", progressMs("walCommit", "commitOffsets"), "ms"),
      Metric("io.calls", mean(primary.map(_.ioCalls.toDouble)), "count"),
      Metric("io.ms", mean(primary.map(_.ioMs)), "ms"),
      Metric("io.pointer_swaps", mean(primary.map(_.ioSwaps.toDouble)), "count"),
      Metric("spark.jobs", mean(primary.map(o => r.jobsIn(o.span).size.toDouble)), "count"),
      Metric("spark.job_ms", mean(primary.map(o => jobSpans(o).map(_.ms).sum)), "ms"),
      Metric("driver.gap_ms", mean(primary.map(o => Span.selfMs(o.span, jobSpans(o)))), "ms"),
      Metric("schema.inference_jobs", mean(primary.map(o => inferenceJobs(o.span).toDouble)), "count"),
      Metric("schema.setup_inference_jobs", inferenceJobs(setups.last).toDouble, "count"),
      Metric("mor.pending_deltas", mean(batches.map(_.pending.toDouble)), "count"),
      Metric("mor.compact_ms", mean(compactions.filter(_.kind == "batch").map(_.span.ms)), "ms"),
      Metric("read.mirror_ms", mean(ops.filter(_.kind == "scan").map(_.span.ms)), "ms"),
      Metric("jvm.gc_ms", mean(primary.map(_.gcMs)), "ms"),
      Metric("disk.write_bytes", mean(primary.map(_.diskBytes.toDouble)), "bytes"),
      Metric("trace.overhead_pct", overheadPct, "%"),
    ) ++ sqlMetrics
  }

  /** The traced run's spans, written once the run has ended: each traced
    * operation followed by the Spark jobs it caused.
    */
  private def writeSpans(file: Path, traced: Seq[Op], jobs: Op => Seq[Span]): Unit = {
    def line(s: Span, parent: Int, id: Int) =
      f"""{"id":$id,"parent":$parent,"name":"${Bench.esc(s.name)}","start_ms":${s.start}%.3f,"end_ms":${s.end}%.3f}"""
    var id = 0
    val lines = traced.flatMap { o =>
      id += 1
      val me = id
      line(o.span, 0, me) +: jobs(o).map { j => id += 1; line(j, me, id) }
    }
    Files.write(file, lines.asJava)
  }
}

object Bench {
  /** A schema-inference job: its call site is a DataFrame reader method,
    * or its only operations are the parallelize + mapPartitions of Spark's
    * parallel footer read. The second rule is what finds inference inside
    * a micro-batch, where Spark stamps every job with the query's start
    * call site.
    */
  def isInference(callSite: String, scopes: String): Boolean =
    callSite.matches("^(parquet|load|json|csv|orc|schema|inferSchema|table) at .*") ||
      scopes == "mapPartitions|parallelize"

  def esc(s: String): String = s.replace("\\", "\\\\").replace("\"", "\\\"")

  def json(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric]): String = {
    val ms = metrics.map { m =>
      val v = if (m.value.isNaN || m.value.isInfinite) "null" else m.value.toString
      s""""${m.name}":{"value":$v,"unit":"${m.unit}"}"""
    }
    s"""{"correct":$correct,"attempted":${math.max(1, attempted)},"failed":$failed,""" +
      s""""metrics":{${ms.mkString(",")}}}"""
  }
}
