package graft.cdcbench

import java.nio.file.Path
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftSparkBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.WarehouseIO

/** A traced interval on the epoch-millisecond clock. */
final case class Span(name: String, start: Double, end: Double) {
  def ms: Double = end - start
  def contains(t: Double): Boolean = t >= start && t <= end
}

object Span {
  /** Self time: the span's duration minus the part of its interval that
    * its children cover. Overlapping children count once; the parts of a
    * child outside the span do not count.
    */
  def selfMs(span: Span, children: Seq[Span]): Double = {
    val clipped = children
      .map(c => (math.max(c.start, span.start), math.min(c.end, span.end)))
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    clipped.foreach { case (s, e) =>
      if (curE.isNaN || s > curE) {
        if (!curE.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curE.isNaN) covered += curE - curS
    span.ms - covered
  }
}

/** Epoch milliseconds with nanosecond resolution, on the same clock as
  * Spark's listener event times.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Collects what the engine reports about itself, from outside it: Spark
  * jobs (SparkListener), micro-batch progress (StreamingQueryListener),
  * query planning (QueryExecutionListener) and commit-protocol primitives
  * ([[CountingIO]]). Only a traced run creates one. It records every event
  * and holds it in memory; events are attributed to operations by their
  * timestamps once the run has ended and the listener bus is drained.
  */
final class Recorder(spark: SparkSession) {
  import Recorder._

  private val started = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  val jobs = new ConcurrentLinkedQueue[Job]()
  val progress = new ConcurrentLinkedQueue[Progress]()
  val planned = new ConcurrentLinkedQueue[Planned]()

  val ioCalls = new AtomicLong()
  val ioNanos = new AtomicLong()
  val ioSwaps = new AtomicLong()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val first = e.stageInfos.sortBy(_.stageId).headOption
      started.put(e.jobId, Job(e.jobId, e.time.toDouble, 0, first.map(_.name).getOrElse(""),
        first.toSeq.flatMap(_.rddInfos.flatMap(_.scope.map(_.name))).distinct.sorted.mkString("|")))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(started.remove(e.jobId)).foreach(j => jobs.add(j.copy(end = e.time.toDouble)))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      progress.add(Progress(
        java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.numInputRows,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) {
        val nodes = qe.executedPlan.treeString.linesIterator.count(_.trim.nonEmpty)
        planned.add(Planned(phases.values.map(_.startTimeMs).min.toDouble,
          phases.values.map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum,
          nodes))
      }
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.streams.addListener(streamListener)
  spark.listenerManager.register(qeListener)

  def jobsIn(s: Span): Seq[Job] = jobs.asScala.filter(j => s.contains(j.start)).toSeq
  def plannedIn(s: Span): Seq[Planned] =
    planned.asScala.filter(p => s.contains(p.start)).toSeq

  /** Progress of data-bearing micro-batches triggered in the span; the
    * trigger may have started listing a few ms before the file landed.
    */
  def progressIn(s: Span): Seq[Progress] = progress.asScala
    .filter(p => p.rows > 0 && p.start >= s.start - 100 && p.start <= s.end).toSeq

  /** Wait until the listener bus has delivered every event posted so far:
    * job ends, streaming progress and SQL execution ends all arrive
    * asynchronously.
    */
  def drain(): Unit = GraftSparkBridge.waitListenerBusEmpty(spark.sparkContext)
}

object Recorder {
  /** One Spark job: `name` is the first stage's call site, which Spark
    * attributes to the first user (non-Spark) frame; `scopes` are the
    * operations of its first stage.
    */
  final case class Job(id: Int, start: Double, end: Double, name: String, scopes: String)
  final case class Progress(start: Double, rows: Long, durations: Map[String, Long])
  final case class Planned(start: Double, planningMs: Double, planNodes: Int)
}

/** A counting decorator over the commit protocol's filesystem
  * primitives, passed as `Warehouse(root, io = ...)`.
  */
final class CountingIO(inner: WarehouseIO, rec: Recorder) extends WarehouseIO {
  override def name: String = inner.name

  private def count[T](swap: Boolean)(f: => T): T = {
    val t0 = System.nanoTime()
    try f
    finally {
      rec.ioNanos.addAndGet(System.nanoTime() - t0)
      rec.ioCalls.incrementAndGet()
      if (swap) rec.ioSwaps.incrementAndGet()
    }
  }

  override def createExclusive(p: Path): Unit = count(false)(inner.createExclusive(p))
  override def createDirExclusive(p: Path): Unit = count(false)(inner.createDirExclusive(p))
  override def atomicPointerSwap(pointer: Path, target: Path, scratch: Path): Unit =
    count(true)(inner.atomicPointerSwap(pointer, target, scratch))
  override def readPointer(pointer: Path): Option[Path] = count(false)(inner.readPointer(pointer))
  override def deletePointerIfExists(pointer: Path): Unit =
    count(false)(inner.deletePointerIfExists(pointer))
  override def adoptLegacyDir(src: Path, dst: Path): Unit = count(false)(inner.adoptLegacyDir(src, dst))
  override def linkOrCopy(src: Path, dst: Path): Unit = count(false)(inner.linkOrCopy(src, dst))
  override def discardDir(dir: Path): Unit = count(false)(inner.discardDir(dir))
  override def breakStaleLock(lock: Path): Unit = count(false)(inner.breakStaleLock(lock))
}
