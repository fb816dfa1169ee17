package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.parquet.schema.MessageTypeParser

import graft.SparkTestBase
import graft.sources.SchemaEvolution.Decline
import graft.sources.Tables.Warehouse

/** The driver-side uniform-footer schema shortcut
  * ([[SchemaEvolution.uniformFooterSchema]]): it must serve exactly the
  * schema Spark's own `mergeSchema` inference would, on the layouts the
  * engine writes (Spark-written `x.parquet` directories, `required`
  * keys beside `optional` base files), and decline — counted by reason
  * — wherever that answer would differ.
  */
class SchemaShortcutSpec extends SparkTestBase {

  private val seq = new java.util.concurrent.atomic.AtomicInteger(0)

  private def writeParquet(path: String, schema: String)(fill: Group => Unit): Unit = {
    val mt = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(HadoopOutputFile.fromPath(
      new org.apache.hadoop.fs.Path(path), new Configuration())).withType(mt).build()
    try { val g = new SimpleGroupFactory(mt).newGroup(); fill(g); w.write(g) }
    finally w.close()
  }

  /** Top-level, nested-struct and list-element fields written `required`
    * in one file and `optional` in the other. */
  private def mixedNullability(dir: String): Unit = {
    Seq("required" -> "a.parquet", "optional" -> "b.parquet").foreach { case (rep, f) =>
      writeParquet(s"$dir/$f",
        s"""message m {
           |  $rep int64 id;
           |  optional binary name (STRING);
           |  $rep group s { $rep int32 a; optional double b; }
           |  optional group tags (LIST) { repeated group list { $rep binary element (STRING); } }
           |}""".stripMargin) { g =>
        g.append("id", 1L).append("name", "x")
        g.addGroup("s").append("a", 1).append("b", 2.0)
        g.addGroup("tags").addGroup("list").append("element", "t")
      }
    }
  }

  /** `f`'s result and the shortcut's log lines while it ran. */
  private def warnings[T](f: => T): (T, Seq[String]) = {
    import org.apache.logging.log4j.core.{LogEvent, Logger => CoreLogger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val logger = org.apache.logging.log4j.LogManager
      .getLogger(SchemaEvolution.getClass.getName).asInstanceOf[CoreLogger]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val probe = new AbstractAppender("shortcut-probe", null, null, true, Property.EMPTY_ARRAY) {
      override def append(e: LogEvent): Unit = seen.add(e.getMessage.getFormattedMessage)
    }
    probe.start()
    logger.addAppender(probe)
    try { val r = f; (r, seen.asScala.toSeq) }
    finally { logger.removeAppender(probe); probe.stop() }
  }

  private def declinesOf(reason: String): Long = SchemaEvolution.uniformDeclines(reason)

  test("on a Spark-written x.parquet directory the census lists only its part files") {
    val dir = s"${tmpDir("shortcut-dir")}/x.parquet"
    spark.range(20).selectExpr("id", "id % 3 AS grp").repartition(2).write.parquet(dir)
    val parts = Files.list(Paths.get(dir)).iterator().asScala
      .map(_.getFileName.toString)
      .filter(n => n.endsWith(".parquet") && n.startsWith("part-")).toSet
    val census = GraftCatalog.schemaCensus(dir).get
    assert(parts.size == 2)
    assert(census.map(_._1).toSet == parts, s"census $census")
    val before = declinesOf(Decline.ReadFailure)
    assert(SchemaEvolution.uniformFooterSchema(spark, dir).contains(
      spark.read.parquet(dir).schema))
    assert(declinesOf(Decline.ReadFailure) == before)
  }

  test("mixed required/optional top-level and nested fields yield exactly the mergeSchema-inferred schema, also as the catalog's ParquetTable schema") {
    val dir = tmpDir("shortcut-mixed")
    mixedNullability(dir)
    val inferred = spark.read.option("mergeSchema", "true").parquet(dir).schema
    val declined = SchemaEvolution.uniformDeclines
    assert(SchemaEvolution.uniformFooterSchema(spark, dir).contains(inferred))
    assert(SchemaEvolution.uniformDeclines == declined, "the shortcut must fire")

    // the same files as a catalog table's snapshot
    val root = tmpDir("shortcut-cat")
    val wh = Warehouse(root)
    wh.commit("t")(staged => mixedNullability(staged))
    val cat = s"shortcut${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    val snapInferred = spark.read.option("mergeSchema", "true")
      .parquet(wh.snapshotPath("t")).schema
    assert(snapInferred == inferred)
    assert(spark.table(s"$cat.t").schema == inferred)
    assert(SchemaEvolution.uniformDeclines == declined, "the catalog's shortcut must fire")
    assert(spark.table(s"$cat.t").selectExpr("s.a", "tags[0]").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "t"), (1, "t")))
  }

  test("the shortcut still declines on a type change, an added column, partition dirs, an oversized census and an unreadable footer — each counted by reason") {
    def probe(reason: String, dir: String = tmpDir("shortcut-decline"))
        (layout: String => Unit): String = {
      layout(dir)
      val before = SchemaEvolution.uniformDeclines
      assert(SchemaEvolution.uniformFooterSchema(spark, dir).isEmpty, reason)
      val after = SchemaEvolution.uniformDeclines
      Decline.all.foreach { r =>
        assert(after(r) - before(r) == (if (r == reason) 1L else 0L), s"$reason: $r")
      }
      dir
    }
    probe(Decline.Heterogeneous) { d => // int -> bigint
      writeParquet(s"$d/a.parquet", "message m { optional int32 id; }")(_.append("id", 1))
      writeParquet(s"$d/b.parquet", "message m { optional int64 id; }")(_.append("id", 2L))
    }
    probe(Decline.Heterogeneous) { d => // an added column
      writeParquet(s"$d/a.parquet", "message m { optional int64 id; }")(_.append("id", 1L))
      writeParquet(s"$d/b.parquet", "message m { optional int64 id; optional int64 extra; }") {
        _.append("id", 2L).append("extra", 3L)
      }
    }
    probe(Decline.PartitionDirs) { d =>
      spark.range(4).write.parquet(s"$d/p=1")
    }
    probe(Decline.Census) { d =>
      (0 until 65).foreach(i =>
        writeParquet(f"$d/f$i%03d.parquet", "message m { optional int64 id; }")(_.append("id", i.toLong)))
    }
    val (broken, logged) = warnings {
      val d = probe(Decline.ReadFailure) { d =>
        Files.write(Paths.get(d, "broken.parquet"), "not a parquet file".getBytes("UTF-8"))
      }
      probe(Decline.ReadFailure, d)(_ => ()) // counted again, not logged again
    }
    val lines = logged.filter(_.contains(s"path=$broken "))
    assert(lines.size == 1, logged)
    assert(lines.head.startsWith(
      "event=schema_shortcut_decline reason=read_failure path="), lines.head)
    assert(lines.head.contains(" files=1 error="), lines.head)
  }

  test("a merge-on-read DML cycle records no read-failure decline") {
    val root = tmpDir("shortcut-mor")
    val cat = s"shortcut${seq.incrementAndGet()}"
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, grp INT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, CAST(id % 8 AS INT), id FROM range(200)")
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'cdc.key-column'='id')")
    spark.range(150, 250).selectExpr("id", "CAST(id % 8 AS INT) AS grp", "id * 2 AS v")
      .createOrReplaceTempView("shortcut_src")
    val before = declinesOf(Decline.ReadFailure)
    spark.sql(s"""MERGE INTO $cat.t t USING shortcut_src s ON t.id = s.id
      |WHEN MATCHED THEN UPDATE SET grp = s.grp, v = s.v
      |WHEN NOT MATCHED THEN INSERT (id, grp, v) VALUES (s.id, s.grp, s.v)""".stripMargin)
    spark.sql(s"DELETE FROM $cat.t WHERE grp = 3")
    assert(EqDeletes.pending(Warehouse(root).snapshotPath("t")).size == 2)
    val groups = spark.sql(s"SELECT grp, count(*) FROM $cat.t GROUP BY grp").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(groups == (0 until 250).filter(_ % 8 != 3).groupBy(_ % 8)
      .map { case (g, ids) => g -> ids.size.toLong })
    spark.sql(s"CALL $cat.system.compact('t', 2)").collect()
    assert(spark.sql(s"SELECT count(*) FROM $cat.t").head.getLong(0) ==
      (0 until 250).count(_ % 8 != 3).toLong)
    assert(declinesOf(Decline.ReadFailure) == before)
  }
}
