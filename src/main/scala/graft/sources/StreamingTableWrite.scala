package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util.UUID

import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.connector.write.{DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType

import graft.sources.Tables.Warehouse

/** `df.writeStream.toTable("graft.t")` — the V2 streaming write that
  * makes every micro-batch a COMMITTED SNAPSHOT of a catalog table, so a
  * continuously-fed table gets the exact guarantees the batch SQL face
  * gives: atomic pointer-swap publication, `VERSION AS OF` history per
  * epoch, CAS against rival writers, retention GC. This closes the
  * round-12 seam between the engine's streaming face and its SQL
  * catalog — the reference's whole product is continuous ingest into
  * NAMED tables (`/root/reference/batch-bootstrapper/README.md:6-10`).
  *
  * Per epoch:
  *  1. executor tasks stream rows into a deterministic per-(query,
  *     epoch) staging dir through Spark's own parquet
  *     `OutputWriterFactory` (attempt-unique file names; only files
  *     named in committed messages survive — same discipline as
  *     [[GraftCowBatchWrite]]);
  *  2. `commit(epoch)` allocates an exclusive stage, hard-links the
  *     committed epoch files in, carries the ref's current content
  *     ([[Warehouse.Ref.carryInto]] — the hard-link fast append, so an
  *     epoch costs O(epoch data)), stamps the epoch MARKER inside the
  *     stage, and publishes with the ref's CAS.
  *
  * EXACTLY-ONCE across restarts rides the marker: `_stream_epoch`
  * records `(queryId, epochId)` inside the version dir — atomic with
  * the snapshot, carried forward by every other committer (append,
  * compaction) via the root-marker carry. A replayed epoch (crash
  * between our commit and the checkpoint commit) reads the marker in
  * the ref's snapshot, sees itself already absorbed, and is a no-op.
  * The queryId is the stream's PERSISTENT id (stable across restarts of
  * one checkpoint; fresh checkpoint = fresh id, so a re-built lineage
  * restarting at epoch 0 is never wrongly skipped.)
  *
  * Complete-mode (`truncate`) epochs overwrite instead of carrying —
  * each epoch IS the table — but keep the snapshot's root markers
  * (other streams' replay positions), as every overwrite does.
  *
  * `ref` is the commit target captured at stream-build time (main, or
  * the `spark.graft.wap.branch` branch — the binding discipline of every
  * write-audit-publish face); each epoch attempt commits through
  * `ref.fresh()`. Under a branch, epochs stage on the head and one
  * `CALL fast_forward` publishes them with their markers intact.
  */
private[sources] class GraftStreamingWrite(ref: Warehouse#Ref,
    schema: StructType, queryId: String, truncate: Boolean)
  extends StreamingWrite {

  private val wh = ref.warehouse
  private val table = ref.table

  private def epochDir(epochId: Long): Path =
    Paths.get(s"${wh.tablePath(table)}.streamepoch_${queryId}_$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
      schema, new ParquetOptions(Map.empty[String, String],
        spark.sessionState.conf))
    new GraftStreamingWriterFactory(
      s"${wh.tablePath(table)}.streamepoch_$queryId", schema, factory,
      new SerializableHadoopConf(job.getConfiguration))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val committed = messages.collect { case CowFileCommit(f) => f }.toSet
    val epoch = epochDir(epochId)
    wh.retryingConflicts(maxAttempts = 10) {
      val target = ref.fresh()
      // the ref's snapshot is the epoch's carry source + replay witness
      if (!alreadyApplied(target.dir, epochId)) {
        val markers =
          if (truncate) Tables.readRootMarkers(target.dir) else Nil
        target.commit { stage =>
          committed.foreach { f =>
            wh.io.linkOrCopy(epoch.resolve(f), stage.resolve(f))
          }
          if (truncate) Tables.writeRootMarkers(markers, stage.toString)
          else target.carryInto(stage)
          // an empty first/complete epoch still publishes a
          // schema-bearing version, same as CREATE TABLE
          Tables.ensureFooter(SparkSession.active, stage, schema)
          Files.writeString(
            stage.resolve(GraftStreamingWrite.markerName(queryId)),
            epochId.toString)
        }
      }
    }
    Tables.deleteRecursively(epoch)
  }

  /** True when the served snapshot (main's current, or the branch head
    * under WAP) already absorbed this epoch of THIS query lineage (the
    * replay window between our commit and the checkpoint commit).
    */
  private def alreadyApplied(servedDir: String, epochId: Long): Boolean = {
    val marker = Paths.get(servedDir,
      GraftStreamingWrite.markerName(queryId))
    if (!Files.exists(marker)) return false
    Files.readString(marker).trim.toLongOption.exists(_ >= epochId)
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    Tables.deleteRecursively(epochDir(epochId))
}

private[sources] object GraftStreamingWrite {
  /** Root marker recording the last epoch a snapshot absorbed FROM ONE
    * query lineage — `_`-prefixed (invisible to scans), carried by every
    * committer's root-marker carry, atomic with the pointer swap.
    * PER-QUERY file name: two independent streams appending to one
    * table must not clobber each other's replay protection (a shared
    * single-slot marker would let stream A's commit erase stream B's
    * position, and B's replayed epoch would double-append).
    */
  def markerName(queryId: String): String =
    s"_stream_epoch_${queryId.replaceAll("[^A-Za-z0-9-]", "_")}"
}

/** `writeStream.toTable` into a HIDDEN-TIME-PARTITIONED table: each
  * micro-batch lands through [[Tables.Warehouse.appendBatch]] with the
  * EPOCH as the batch id — epochs ARE batches, so replay idempotence is
  * the layout's own contract (a replayed epoch dynamically overwrites
  * exactly its own (day[, hour], batch) partitions; no marker needed)
  * and every time-pruned reader sees the stream's output exactly as the
  * ingest pipeline's. This completes the SQL-first continuous-ingest
  * story: `CREATE TABLE ... PARTITIONED BY (days(ts))` then feed it by
  * name. Tasks stage parquet per epoch (same plumbing as the snapshot
  * write); `commit(epoch)` re-reads the committed files and lands them
  * partitioned — one extra read+write of the EPOCH's bytes, the price
  * of the partitioned layout, O(epoch) like everything else here.
  * Single-stream-per-table, the same contract as the ingest pipeline's
  * changelog: two lineages would collide on batch ids — ENFORCED, not
  * just documented: the first commit stamps the query's persistent id
  * into [[Tables.StreamWriterProp]] under the commit lock, and a commit
  * from any other lineage refuses loudly, naming the prop to clear for
  * an explicit handover (the registered stream itself is unaffected).
  */
private[sources] class GraftAppendBatchStreamingWrite(wh: Warehouse,
    table: String, timeCol: String, schema: StructType, queryId: String)
  extends StreamingWrite {

  require(schema.fieldNames.contains(timeCol),
    s"streaming into time-partitioned '$table' needs its declared time " +
      s"column '$timeCol' in the streamed schema " +
      s"(got ${schema.fieldNames.mkString(", ")})")

  private def epochDir(epochId: Long): Path =
    Paths.get(s"${wh.tablePath(table)}.streamepoch_${queryId}_$epochId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
      schema, new ParquetOptions(Map.empty[String, String],
        spark.sessionState.conf))
    new GraftStreamingWriterFactory(
      s"${wh.tablePath(table)}.streamepoch_$queryId", schema, factory,
      new SerializableHadoopConf(job.getConfiguration))
  }

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    claimWriterSlot()
    val committed = messages.collect { case CowFileCommit(f) => f }
    val epoch = epochDir(epochId)
    if (committed.nonEmpty) {
      val df = SparkSession.active.read.schema(schema)
        .parquet(committed.map(f => epoch.resolve(f).toString).toIndexedSeq: _*)
      wh.appendBatch(df, table, epochId)
    }
    Tables.deleteRecursively(epoch)
  }

  /** Stamp this lineage's persistent queryId as the table's ONE
    * streaming writer (first commit wins, under the commit lock so two
    * racing first commits serialize); any other lineage refuses loudly.
    * Idempotent and cheap (one sidecar read per epoch).
    */
  private def claimWriterSlot(): Unit = wh.withCommitLock(table) {
    import graft.sources.Tables.{StreamWriterProp, TableProps}
    val props = TableProps.read(wh, table)
    props.get(StreamWriterProp) match {
      case Some(owner) if owner != queryId =>
        throw new IllegalStateException(
          s"table '$table' already has a registered streaming writer " +
            s"(query $owner); epochs land as p_batch=<epoch> partitions " +
            "with no lineage identity, so a second stream would silently " +
            "overwrite the registered stream's epochs. To hand over, stop " +
            s"the registered stream and clear the '$StreamWriterProp' " +
            "table property (ALTER TABLE ... UNSET TBLPROPERTIES)")
      case Some(_) => ()
      case None =>
        TableProps.write(wh, table, props + (StreamWriterProp -> queryId))
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    Tables.deleteRecursively(epochDir(epochId))
}

/** Per-epoch task writers: rows stream into
  * `<epochRootPrefix>_<epochId>/<attempt-unique>.parquet`; the commit
  * message names the file, and only named files publish.
  */
private class GraftStreamingWriterFactory(epochRootPrefix: String,
    schema: StructType, factory: OutputWriterFactory,
    conf: SerializableHadoopConf) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] = {
    val dir = s"${epochRootPrefix}_$epochId"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val fileName = f"part-$partitionId%05d-$taskId-${UUID.randomUUID()}.parquet"
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID("graft-stream", 0, TaskType.MAP, partitionId,
        (taskId % Int.MaxValue).toInt))
    val writer = factory.newInstance(s"$dir/$fileName", schema, ctx)
    new DataWriter[InternalRow] {
      override def write(row: InternalRow): Unit = writer.write(row)
      override def commit(): WriterCommitMessage = {
        writer.close(); CowFileCommit(fileName)
      }
      override def abort(): Unit = {
        writer.close()
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(dir, fileName))
      }
      override def close(): Unit = ()
    }
  }
}
