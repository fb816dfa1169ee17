package graft.cdcbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser

/** One DMS change record: the envelope (`table`, `op`, `ts` in epoch
  * microseconds) around the source row (`id`, `name`, `grp`, `amount`).
  */
final case class Change(table: String, op: String, ts: Long, id: Long,
    name: String, grp: Int, amount: Long)

/** A visible mirror row. */
final case class Row(id: Long, name: String, grp: Int, amount: Long)

/** The per-workload change mix: shares of inserts, deletes and LATE
  * updates (a ts older than the key's stored row, so it must lose), the
  * rest being in-order updates; `hotShare` of the picks go to a hot set of
  * `hotKeys` live keys.
  */
final case class Mix(insert: Double, delete: Double, late: Double,
    hotShare: Double, hotKeys: Int, groups: Int)

/** Seeded DMS change generator. It keeps only what it needs to pick keys
  * (the live set and each key's last ts); the expected state is the
  * separate [[Model]], which sees nothing but the emitted changes.
  */
final class DmsGen(seed: Long, mix: Mix) {
  private val table = "orders"
  private val rnd = new java.util.SplittableRandom(seed)
  private var clock = 1767225600000000L // 2026-01-01T00:00:00Z, micros
  private var nextId = 0L
  private val live = mutable.ArrayBuffer.empty[Long]
  private val pos = mutable.LongMap.empty[Int]
  private val lastTs = mutable.LongMap.empty[Long]

  private def tick(): Long = { clock += 1000; clock }

  private def addLive(id: Long): Unit = { pos(id) = live.size; live += id }

  private def removeLive(id: Long): Unit = {
    val i = pos(id); val last = live.last
    live(i) = last; pos(last) = i
    live.remove(live.size - 1); pos -= id
  }

  private def pickLive(): Long = {
    val hot = math.min(mix.hotKeys, live.size)
    if (hot > 0 && rnd.nextDouble() < mix.hotShare) live(rnd.nextInt(hot))
    else live(rnd.nextInt(live.size))
  }

  private def row(id: Long, op: String, ts: Long): Change =
    Change(table, op, ts, id, s"n$id-${rnd.nextInt(100000)}",
      rnd.nextInt(mix.groups), rnd.nextLong(1L, 1000000L))

  private def insert(): Change = {
    val id = nextId; nextId += 1
    addLive(id)
    val c = row(id, "I", tick()); lastTs(id) = c.ts; c
  }

  /** `n` inserts of fresh keys: the initial load. */
  def initialLoad(n: Int): Vector[Change] = Vector.fill(n)(insert())

  /** One batch of `n` changes drawn from the mix. */
  def batch(n: Int): Vector[Change] = Vector.fill(n) {
    val u = rnd.nextDouble()
    if (live.isEmpty || u < mix.insert) insert()
    else if (u < mix.insert + mix.delete) {
      val id = pickLive(); removeLive(id)
      val c = row(id, "D", tick()); lastTs(id) = c.ts; c
    } else if (u < mix.insert + mix.delete + mix.late) {
      // any key ever seen, deleted ones included: a late update must not
      // resurrect a tombstone
      val id = rnd.nextLong(nextId)
      row(id, "U", lastTs(id) - 1)
    } else {
      val id = pickLive()
      val c = row(id, "U", tick()); lastTs(id) = c.ts; c
    }
  }

  /** MERGE source rows for the SQL workload: `n` distinct keys, `updates`
    * of them existing live keys, the rest fresh inserts.
    */
  def mergeSource(n: Int, updates: Int): Vector[Row] = {
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < math.min(updates, live.size)) upd += pickLive()
    val fresh = Vector.fill(n - upd.size) { val id = nextId; nextId += 1; addLive(id); id }
    (upd.toVector ++ fresh).map { id =>
      lastTs(id) = tick()
      Row(id, s"n$id-${rnd.nextInt(100000)}", rnd.nextInt(mix.groups),
        rnd.nextLong(1L, 1000000L))
    }
  }

  /** Record that SQL deleted every live key of group `grp`. */
  def deletedGroup(ids: Iterable[Long]): Unit = ids.foreach(removeLive)

  /** A live key, for point reads. */
  def someLive(): Long = pickLive()
}

/** The expected-state oracle: latest record per key by (ts, arrival
  * order), tombstones kept so a late update cannot resurrect a delete —
  * the same latest-wins rule the engine's fold implements.
  */
final class Model {
  private val latest = mutable.LongMap.empty[Change]

  def apply(changes: Seq[Change]): Unit = changes.foreach { c =>
    latest.get(c.id) match {
      case Some(prev) if prev.ts > c.ts => ()
      case _ => latest(c.id) = c
    }
  }

  def upsert(rows: Seq[Row]): Unit = rows.foreach { r =>
    latest(r.id) = Change("", "U", 0L, r.id, r.name, r.grp, r.amount)
  }

  def deleteGroup(grp: Int): Seq[Long] = {
    val ids = latest.valuesIterator
      .filter(c => c.op != "D" && c.grp == grp).map(_.id).toVector
    ids.foreach(id => latest(id) = latest(id).copy(op = "D"))
    ids
  }

  private def live: Iterator[Change] = latest.valuesIterator.filter(_.op != "D")

  def visible: Map[Long, Row] =
    live.map(c => c.id -> Row(c.id, c.name, c.grp, c.amount)).toMap

  def get(id: Long): Option[Row] =
    latest.get(id).filter(_.op != "D").map(c => Row(c.id, c.name, c.grp, c.amount))

  /** (visible rows, sum of amount): what the reader query returns. */
  def totals: (Long, Long) =
    live.foldLeft((0L, 0L)) { case ((n, s), c) => (n + 1, s + c.amount) }

  /** grp -> (rows, sum of amount): what the GROUP BY returns. */
  def byGroup: Map[Int, (Long, Long)] = live.toSeq.groupBy(_.grp)
    .map { case (g, cs) => g -> (cs.size.toLong, cs.map(_.amount).sum) }
}

/** Parquet files written straight through parquet-hadoop (no Spark job),
  * so generating inputs costs nothing the benchmark measures.
  */
object ParquetFiles {
  private val changeSchema = MessageTypeParser.parseMessageType(
    """message dms {
      |  optional binary table (STRING);
      |  optional binary op (STRING);
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |  optional int64 id;
      |  optional binary name (STRING);
      |  optional int32 grp;
      |  optional int64 amount;
      |}""".stripMargin)

  private val rowSchema = MessageTypeParser.parseMessageType(
    """message row {
      |  optional int64 id;
      |  optional binary name (STRING);
      |  optional int32 grp;
      |  optional int64 amount;
      |}""".stripMargin)

  private def write[T](path: Path, schema: org.apache.parquet.schema.MessageType,
      rows: Seq[T])(fill: (org.apache.parquet.example.data.Group, T) => Unit): Unit = {
    Files.createDirectories(path.getParent)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withType(schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    val f = new SimpleGroupFactory(schema)
    try rows.foreach { r => val g = f.newGroup(); fill(g, r); w.write(g) }
    finally w.close()
  }

  def writeChanges(path: Path, rows: Seq[Change]): Unit =
    write(path, changeSchema, rows) { (g, c) =>
      g.add("table", c.table); g.add("op", c.op); g.add("ts", c.ts)
      g.add("id", c.id); g.add("name", c.name); g.add("grp", c.grp)
      g.add("amount", c.amount)
    }

  def writeRows(path: Path, rows: Seq[Row]): Unit =
    write(path, rowSchema, rows) { (g, r) =>
      g.add("id", r.id); g.add("name", r.name); g.add("grp", r.grp)
      g.add("amount", r.amount)
    }
}
