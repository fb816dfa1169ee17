package graft.sources

import java.util.UUID

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.execution.datasources.OutputWriterFactory
import org.apache.spark.sql.execution.datasources.parquet.{ParquetOptions, ParquetUtils}
import org.apache.spark.sql.types.StructType

import graft.sources.Tables.Warehouse

/** The copy-on-write V2 batch write behind the catalog's row-level SQL
  * (`MERGE INTO`, `UPDATE`, and the rewrite-flavor `DELETE`): Spark's
  * group-based `ReplaceData` hands every post-operation row to this
  * write, whose physical plan IS the engine's commit protocol —
  *
  *   1. at write start the driver allocates an exclusive stage dir
  *      through the operation's commit target ([[Warehouse.Ref]]:
  *      main's pointer, or the write-audit-publish branch);
  *   2. executor tasks stream their partitions STRAIGHT into final files
  *      in the stage through Spark's own parquet `OutputWriterFactory`
  *      (vectorized row writer, the session's compression/rebase/
  *      timestamp settings via `ParquetUtils.prepareWrite`). There is no
  *      `_temporary` dance and no Hadoop output committer: the stage dir
  *      is invisible to every reader until the publish, so the commit
  *      protocol already provides what a committer re-implements;
  *   3. `commit` prunes files of uncommitted task attempts (speculative
  *      or retried attempts write under their own names; only files
  *      named in committed messages survive), hard-links the files the
  *      scan excluded (`carryFiles`, relative to the ref's snapshot) and
  *      publishes with the ref's CAS, bound when the operation was
  *      PLANNED — a rival landing mid-operation surfaces as a conflict,
  *      never a lost update;
  *   4. `abort` discards the stage (rename-first, same as every
  *      abandoned commit).
  *
  * The operation's scan reads the ref's snapshot (version dirs are
  * immutable), so the rewrite is consistent even though it reads the
  * table it replaces.
  */
private[sources] class GraftCowBatchWrite(ref: Warehouse#Ref,
    schema: StructType, carryFiles: () => Seq[String]) extends Write {

  override def toBatch: BatchWrite = new BatchWrite {
    private var stage: java.nio.file.Path = _

    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
      val spark = SparkSession.active
      stage = ref.stage()
      // Spark's own parquet write preparation: sets the row schema,
      // write support class, compression codec and rebase/timestamp
      // modes on the job conf — the exact configuration the stock
      // DataFrame write path uses
      val job = Job.getInstance(spark.sessionState.newHadoopConf())
      val factory = ParquetUtils.prepareWrite(spark.sessionState.conf, job,
        schema, new ParquetOptions(Map.empty[String, String],
          spark.sessionState.conf))
      new GraftCowWriterFactory(stage.toString, schema, factory,
        new SerializableHadoopConf(job.getConfiguration))
    }

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val committed = messages.collect {
        case m: CowFileCommit => m.fileName
      }.toSet
      // prune uncommitted attempts: a speculative/retried task wrote
      // under its own attempt-unique name and never committed it
      val s = java.nio.file.Files.list(stage)
      try s.iterator().forEachRemaining { f =>
        val n = f.getFileName.toString
        if (n.endsWith(".parquet") && !committed.contains(n))
          java.nio.file.Files.delete(f)
      } finally s.close()
      // FILE-GRANULAR groups: every base file the operation's scan
      // excluded (stats proved no row matches) carries VERBATIM as a
      // hard link — the Iceberg per-file COW rewrite where a "kept file
      // reference" is a link. The base dir is the version the scan
      // pinned (immutable), so the carry is consistent with the CAS.
      // No manifest carry: rewritten files invalidate their manifest
      // rows, so the next maintenance tick re-clusters (the appended-
      // files-only incremental contract does not cover replacements).
      carryFiles().foreach { rel =>
        ref.warehouse.io.linkOrCopy(java.nio.file.Paths.get(ref.dir, rel),
          stage.resolve(rel))
      }
      // root markers carry UNCONDITIONALLY (not just excluded files):
      // they hold cross-commit contracts — a streaming epoch marker
      // dropped by a MERGE landing inside the epoch's replay window
      // lets the replayed epoch double-append (advice finding)
      Tables.writeRootMarkers(Tables.readRootMarkers(ref.dir), stage.toString)
      // a rewrite whose plan collapsed to zero tasks (or deleted every
      // row with nothing carried) still publishes a schema-bearing snapshot
      Tables.ensureFooter(SparkSession.active, stage, schema)
      ref.publish(stage)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      if (stage != null) ref.discard(stage)
  }
}

private case class CowFileCommit(fileName: String) extends WriterCommitMessage

private class GraftCowWriterFactory(stageDir: String, schema: StructType,
    factory: OutputWriterFactory, conf: SerializableHadoopConf)
  extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = {
    // attempt-unique FINAL name: commit-side pruning keeps exactly the
    // committed attempt per partition (the commit coordinator admits one)
    val fileName = f"part-$partitionId%05d-$taskId-${UUID.randomUUID()}.parquet"
    val ctx = new TaskAttemptContextImpl(conf.value,
      new TaskAttemptID("graft-cow", 0, TaskType.MAP, partitionId,
        (taskId % Int.MaxValue).toInt))
    val writer = factory.newInstance(s"$stageDir/$fileName", schema, ctx)
    new DataWriter[InternalRow] {
      // Group-based ReplaceData rows arrive as [operation:int | table
      // columns...]: the plan prepends RowDeltaUtils' operation marker,
      // and the plain DataWritingSparkTask hands the rows over UNSTRIPPED
      // (only the metadata-attribute task applies the row projection —
      // ReplaceDataExec.writingTask). For copy-on-write every row is a
      // WRITE (deletes materialize as absence), so the shifted projection
      // below is total; the operation value is asserted, not assumed.
      private var shift: org.apache.spark.sql.catalyst.expressions.UnsafeProjection = _
      override def write(row: InternalRow): Unit =
        if (row.numFields == schema.length) writer.write(row)
        else {
          import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
          import org.apache.spark.sql.catalyst.util.RowDeltaUtils
          require(row.numFields == schema.length + 1,
            s"row arity ${row.numFields} matches neither the table schema " +
              s"(${schema.length}) nor the operation-prefixed layout")
          val op = row.getInt(0)
          require(op == RowDeltaUtils.WRITE_OPERATION ||
              op == RowDeltaUtils.WRITE_WITH_METADATA_OPERATION,
            s"unexpected row operation $op in a copy-on-write ReplaceData")
          if (shift == null) shift = UnsafeProjection.create(
            schema.fields.zipWithIndex.map { case (f, i) =>
              BoundReference(i + 1, f.dataType, nullable = true)
            }.toIndexedSeq)
          writer.write(shift(row))
        }
      override def commit(): WriterCommitMessage = {
        writer.close(); CowFileCommit(fileName)
      }
      override def abort(): Unit = {
        writer.close()
        java.nio.file.Files.deleteIfExists(
          java.nio.file.Paths.get(stageDir, fileName))
      }
      override def close(): Unit = ()
    }
  }
}

/** Minimal serializable Hadoop Configuration carrier (the standard
  * write/readFields envelope) — the task conf must reach executor
  * threads through closure serialization.
  */
private class SerializableHadoopConf(@transient var value: Configuration)
  extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new Configuration(false)
    value.readFields(in)
  }
}
