package graft.cdcbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.CdcConfig
import graft.operators.Cdc

/** The benchmark's own checks: its inputs are reproducible, its oracle
  * agrees with the engine's fold, and its trace arithmetic is right.
  */
class SelfSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mix = Mix(insert = 0.2, delete = 0.2, late = 0.2,
    hotShare = 0.5, hotKeys = 5, groups = 4)

  private def changes(seed: Long): Vector[Change] = {
    val g = new DmsGen(seed, mix)
    g.initialLoad(20) ++ Vector.fill(6)(g.batch(15)).flatten
  }

  test("the generator is deterministic for a fixed seed") {
    assert(changes(7) == changes(7))
    assert(changes(7) != changes(8))
    val a = new DmsGen(7, mix); val b = new DmsGen(7, mix)
    a.initialLoad(50); b.initialLoad(50)
    assert(a.mergeSource(10, 6) == b.mergeSource(10, 6))
  }

  test("the model equals Cdc.fold on a tiny changelog, late updates and deletes included") {
    val log = changes(11)
    assert(log.exists(_.op == "D"))
    val lastTs = scala.collection.mutable.LongMap.empty[Long]
    val late = log.count { c =>
      val isLate = lastTs.get(c.id).exists(_ > c.ts)
      if (!isLate) lastTs(c.id) = c.ts
      isLate
    }
    assert(late > 0, "the changelog must carry late updates")
    val model = new Model
    model.apply(log)

    // through the same parquet files the benchmark lands
    val dir = Files.createTempDirectory("cdcbench-selfspec")
    val file = dir.resolve("dms_logs_00001.parquet")
    ParquetFiles.writeChanges(file, log)
    val read = spark.read.parquet(file.toString)
    assert(read.schema("ts").dataType == org.apache.spark.sql.types.TimestampType)
    val folded = Cdc.currentState(Cdc.fold(read.coalesce(1), CdcConfig("id", "ts")))
      .select("id", "name", "grp", "amount").collect()
      .map(r => r.getLong(0) -> Row(r.getLong(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toMap
    assert(folded == model.visible)
    assert(model.totals == ((folded.size.toLong, folded.values.map(_.amount).sum)))
    graft.sources.Tables.deleteRecursively(dir)
  }

  test("span self time subtracts the union of children, clipped to the span") {
    val parent = Span("batch", 0, 100)
    val children = Seq(
      Span("job", 10, 30), Span("job", 20, 40), // overlap: 10..40 counts once
      Span("job", 90, 120), // clipped to 90..100
      Span("job", 150, 160)) // outside
    assert(Span.selfMs(parent, children) == 60.0)
    assert(Span.selfMs(parent, Seq.empty) == 100.0)
    assert(Span.selfMs(parent, Seq(Span("job", -5, 200))) == 0.0)
  }

  test("quantiles interpolate between ranks") {
    assert(Main.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Main.quantile(Seq(1.0, 2.0, 3.0, 4.0), 0.75) == 3.25)
  }
}
