package graft

import org.apache.spark.sql.{GraftSqlBridge, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}

import graft.sources.{EqDeleteProbe, EqDeletes, GraftCatalog}
import graft.sources.Tables.{TableProps, Warehouse}

/** The driver-built key probe of the DataFrame-level merge-on-read read
  * ([[EqDeletes.logicalMorRead]]) keeps the semantics of the left-anti
  * join it replaced: NULL key components never match, a wider read of
  * the key keeps deleted rows deleted, and a probe of mismatched types
  * fails loudly instead of matching nothing.
  */
class EqDeleteProbeSpec extends SparkTestBase {

  private def catalog(name: String): (String, Warehouse) = {
    val root = tmpDir(name)
    spark.conf.set(s"spark.sql.catalog.$name", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.warehouse", root)
    (name, Warehouse(root))
  }

  test("a composite-key row with a NULL component survives the probe exactly as it survived the left-anti join") {
    val (cat, wh) = catalog("eqprobenull")
    spark.sql(s"CREATE TABLE $cat.c (a BIGINT, b BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.c VALUES (1, 1, 10), (1, 2, 20), (2, 1, 30), " +
      "(1, NULL, 40), (NULL, 2, 50), (2, 2, 60), (NULL, NULL, 70)")
    // declared past the catalog's null-free check, the way a table with
    // legacy NULL keys reaches the read path
    TableProps.write(wh, "c", TableProps.read(wh, "c") ++ Map(
      EqDeletes.ModeProp -> "merge-on-read", EqDeletes.KeyProp -> "a,b"))
    // one sidecar of (1,2), (2,1) and a legacy tuple with a NULL
    // component, which can match no row under SQL equality
    val keySchema = StructType(Seq(StructField("a", LongType), StructField("b", LongType)))
    val keys = EqDeletes.MatchedKeys(keySchema,
      IndexedSeq(InternalRow(1L, 2L), InternalRow(2L, 1L), InternalRow(1L, null)), nullKeys = 0)
    val census = graft.plans.ZoneMap.dataFileCensus(spark, wh.snapshotPath("c"))
    wh.commit("c", expectCurrent = wh.currentVersion("c")) { staged =>
      wh.carryPreviousInto("c", java.nio.file.Paths.get(staged))
      EqDeletes.write(staged, keys, census)
    }
    val snap = wh.snapshotPath("c")
    val sidecar = EqDeletes.pending(snap).head
    val raw = spark.read.parquet(census.map(f => s"$snap/$f"): _*)
    val antiJoined = raw.join(spark.read.parquet(sidecar.keysPath), Seq("a", "b"), "left_anti")
      .select("a", "b", "v").collect().toSet
    assert(antiJoined.map(_.getLong(2)) == Set(10L, 40L, 50L, 60L, 70L))
    val props = TableProps.read(wh, "c")
    EqDeletes.clearKeySetCache()
    assert(EqDeletes.logicalMorRead(spark, snap, props).select("a", "b", "v")
      .collect().toSet == antiJoined)
  }

  test("widening the key int -> bigint while an int-keyed sidecar is pending is refused by the catalog, and a bigint read of the int-keyed sidecar keeps its rows deleted") {
    val (cat, wh) = catalog("eqprobewiden")
    spark.sql(s"CREATE TABLE $cat.w (id INT, grp INT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.w SELECT CAST(id AS INT), CAST(id % 4 AS INT), id FROM range(40)")
    spark.sql(s"ALTER TABLE $cat.w SET TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'cdc.key-column'='id')")
    spark.sql(s"DELETE FROM $cat.w WHERE grp = 1")
    val expected = (0L until 40L).filter(_ % 4 != 1).toSet
    val snap = wh.snapshotPath("w")
    assert(EqDeletes.pending(snap).size == 1)
    assert(spark.read.parquet(EqDeletes.pending(snap).head.keysPath).schema("id").dataType ==
      IntegerType)
    // the catalog protects the declared key from retyping
    val refusal = intercept[Exception](
      spark.sql(s"ALTER TABLE $cat.w ALTER COLUMN id TYPE BIGINT"))
    assert(refusal.getMessage.contains("cannot retype the CDC cdc.key-column"),
      refusal.getMessage)
    def ids(rows: Array[Row]): Set[Long] =
      rows.map(r => r.get(0).asInstanceOf[Number].longValue).toSet
    val props = TableProps.read(wh, "w")
    // a cold cache each time: the set loads under the probe's own types
    EqDeletes.clearKeySetCache()
    assert(ids(spark.sql(s"SELECT id FROM $cat.w").collect()) == expected)
    EqDeletes.clearKeySetCache()
    assert(ids(EqDeletes.logicalMorRead(spark, snap, props).select("id").collect()) == expected)
    // a read that serves the key wide (an API-level widening) up-casts
    // the stored int keys into its bigint probe
    val wide = StructType(spark.table(s"$cat.w").schema.map(f =>
      if (f.name == "id") f.copy(dataType = LongType) else f))
    EqDeletes.clearKeySetCache()
    assert(ids(EqDeletes.logicalMorRead(spark, snap, props, schema = Some(wide))
      .select("id").collect()) == expected)
    assert(ids(EqDeletes.logicalMorRead(spark, snap, props, schema = Some(wide))
      .select("id").collect()) == expected)
  }

  test("a probe never fails open: a key set cannot load under a type it does not losslessly widen to, and a probe refuses columns of another type") {
    val (cat, wh) = catalog("eqprobetypes")
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, v BIGINT)")
    spark.sql(s"INSERT INTO $cat.t SELECT id, id FROM range(20)")
    spark.sql(s"ALTER TABLE $cat.t SET TBLPROPERTIES (" +
      "'write.delete.mode'='merge-on-read', 'cdc.key-column'='id')")
    spark.sql(s"DELETE FROM $cat.t WHERE id < 5")
    val snap = wh.snapshotPath("t")
    val sidecars = EqDeletes.pending(snap)
    EqDeletes.clearKeySetCache()
    val e = intercept[Exception](EqDeletes.internalKeySets(spark, sidecars, Seq(StringType)))
    assert(e.getMessage.contains("cannot probe"), e.getMessage)
    // the logical read under a schema that retypes the key refuses too
    val retyped = StructType(Seq(StructField("id", StringType), StructField("v", LongType)))
    val e2 = intercept[Exception](EqDeletes.logicalMorRead(spark, snap,
      TableProps.read(wh, "t"), schema = Some(retyped)).collect())
    assert(e2.getMessage.contains("cannot probe"), e2.getMessage)
    // a probe built for bigint over a column of another type fails analysis
    val set = EqDeletes.internalKeySet(spark, sidecars, Seq(LongType))
    assert(set.size == 5)
    val e3 = intercept[Exception](spark.range(3).selectExpr("CAST(id AS INT) AS id")
      .filter(GraftSqlBridge.column(EqDeleteProbe(Seq(UnresolvedAttribute.quoted("id")),
        Seq(LongType), new EqDeleteProbe.Keys(set, 1)))).collect())
    assert(e3.getMessage.contains("cannot probe"), e3.getMessage)
  }
}
