package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{MergeWriter, Normalizer}
import graft.model.RawTable
import graft.types.QKind

/** The executable staging→load→merge loop: stage Avro, run the GENERATED
  * statements through the in-process [[StubWarehouse]], and require the
  * result to equal the native [[MergeWriter]] on the same change set —
  * the proof that the statement text (branch conditions, TOAST combo
  * branches, version guards) carries the same semantics the engine
  * executes natively (reference loop: clickhouse/avro_sync.go:57-423,
  * snowflake/qrep_avro_consolidate.go). */
class WarehouseLoaderSpec extends SparkSpec {

  private val payload = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("v", LongType)))

  private val changeSchema = StructType(payload.fields ++ Seq(
    StructField(RawTable.Version, LongType),
    StructField(RawTable.IsDeleted, BooleanType),
    StructField(Normalizer.AbsentCols, ArrayType(StringType))))

  private def changes(rows: (Long, String, Any, Long, Boolean, Seq[String])*)
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toList.map {
      case (id, n, v, ver, del, abs) =>
        org.apache.spark.sql.Row(id, n, v, ver, del, abs)
    }.asJava, changeSchema)
  }

  private val b1 = () => changes(
    (1L, "a", 10L, 100L, false, Nil),
    (2L, "b", 20L, 100L, false, Nil))

  // the Normalizer delete shape: ALL value columns absent (they wrap
  // null for deletes), so both paths retain destination values
  private val b2 = () => changes(
    (1L, null, 11L, 200L, false, Seq("name")), // TOAST: keep name "a"
    (2L, null, null, 200L, true, Seq("name", "v")), // delete
    (3L, "c", 30L, 200L, false, Nil),          // new key
    (4L, "d", null, 200L, false, Seq("v")),    // new key, absent v → null
    (5L, null, null, 200L, true, Seq("name", "v"))) // delete unknown key

  private def snap(df: DataFrame): Set[(Long, String, Any, Long, Boolean)] =
    df.collect().map { r =>
      (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.get(r.fieldIndex("v")), r.getAs[Long](RawTable.Version),
        r.getAs[Boolean](RawTable.IsDeleted))
    }.toSet

  private def nativeResult(hardDelete: Boolean): Set[(Long, String, Any, Long, Boolean)] = {
    val w = new MergeWriter(spark, tmpDir("wl_native") + "/t",
      Seq("id"))
    w.merge(b1(), hardDelete); w.merge(b2(), hardDelete)
    snap(w.read())
  }

  private def runLoader(dialect: QKind.Dialect, useMerge: Boolean)
      : (StubWarehouse, Set[(Long, String, Any, Long, Boolean)]) = {
    val t = MergeTarget("wh_dst", "wh_stg", Seq("id"), payload)
    val wh = new StubWarehouse(spark, dialect)
    val loader = new WarehouseLoader(t, wh, dialect, useMerge)
    loader.setup()
    loader.loadBatch(b1(), tmpDir("wl_stage1"))
    loader.loadBatch(b2(), tmpDir("wl_stage2"))
    (wh, snap(wh.table("wh_dst")))
  }

  test("ANSI MERGE through the stub equals the native MergeWriter " +
    "(inserts, version-guarded updates, TOAST combos, soft deletes)") {
    val (wh, got) = runLoader(QKind.Dialect.Ansi, useMerge = true)
    assert(got == nativeResult(hardDelete = false), got.mkString("\n"))
    assert(!wh.exists("wh_stg")) // staging dropped after the batch
    // the statements really flowed: create, (stage+merge+drop) × 2
    assert(wh.statements.count(_.startsWith("MERGE INTO")) == 2)
  }

  test("stage_codec 'deflate': the staged OCFs are deflate-coded on " +
    "disk (header + smaller-than-plain), the loader leg reads them " +
    "back through loadAvro, and the merged result equals the " +
    "null-codec run byte for byte") {
    val t = MergeTarget("wh_dst", "wh_stg", Seq("id"), payload)
    val wh = new StubWarehouse(spark, QKind.Dialect.Ansi)
    val loader = new WarehouseLoader(t, wh, QKind.Dialect.Ansi,
      useMerge = true)
    loader.setup()
    val dir1 = tmpDir("wl_defl1")
    val files = loader.loadBatch(b1(), dir1, stageCodec = "deflate")
    loader.loadBatch(b2(), tmpDir("wl_defl2"), stageCodec = "deflate")
    assert(snap(wh.table("wh_dst")) == nativeResult(hardDelete = false))
    // the staged bytes really are deflate OCFs
    val hc = spark.sparkContext.hadoopConfiguration
    files.foreach { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      val in = p.getFileSystem(hc).open(p)
      val bytes = try in.readAllBytes() finally in.close()
      assert(new String(bytes,
        java.nio.charset.StandardCharsets.ISO_8859_1)
        .contains("deflate"), s"$f must carry avro.codec=deflate")
    }
  }

  test("MERGE replay is idempotent (the >= version guard)") {
    val t = MergeTarget("wh_dst", "wh_stg", Seq("id"), payload)
    val wh = new StubWarehouse(spark)
    val loader = new WarehouseLoader(t, wh)
    loader.setup()
    loader.loadBatch(b1(), tmpDir("wl_r1"))
    loader.loadBatch(b2(), tmpDir("wl_r2"))
    val once = snap(wh.table("wh_dst"))
    loader.loadBatch(b2(), tmpDir("wl_r3")) // at-least-once delivery
    assert(snap(wh.table("wh_dst")) == once)
    // stale batch (older version) must not clobber
    loader.loadBatch(
      changes((1L, "stale", 1L, 50L, false, Nil)), tmpDir("wl_r4"))
    assert(snap(wh.table("wh_dst")) == once)
  }

  test("Snowflake dialect: DDL parses and the MERGE result matches") {
    val (_, got) = runLoader(QKind.Dialect.Snowflake, useMerge = true)
    assert(got == nativeResult(hardDelete = false))
  }

  test("UPSERT+DELETE fallback (PG<15 path) equals the MERGE result") {
    val (wh, got) = runLoader(QKind.Dialect.Ansi, useMerge = false)
    assert(got == nativeResult(hardDelete = false))
    assert(wh.statements.exists(_.contains("ON CONFLICT")))
  }

  test("cockroachdb flavor preset: PG-family alias routes to the " +
    "ON CONFLICT loop and matches the native merge") {
    val t = MergeTarget("crdb_dst", "crdb_stg", Seq("id"), payload)
    val wh = new StubWarehouse(spark)
    val loader = new WarehouseLoader(t, wh, "cockroachdb")
    loader.setup()
    loader.loadBatch(b1(), tmpDir("wl_cr1"))
    loader.loadBatch(b2(), tmpDir("wl_cr2"))
    assert(snap(wh.table("crdb_dst")) == nativeResult(hardDelete = false))
    assert(wh.statements.exists(_.contains("ON CONFLICT")))
    assert(!wh.statements.exists(_.startsWith("MERGE INTO")))
  }

  test("ClickHouse INSERT SELECT into ReplacingMergeTree: FINAL-collapsed " +
    "read equals the native hard-delete merge") {
    // no TOAST combos on the CH path: RMT replaces whole rows, so absent
    // columns must be resolved upstream (see clickhouseInsert scaladoc);
    // deletes still travel (tombstones collapse away via the is_deleted
    // engine arg)
    val chB2 = changes(
      (1L, "a2", 11L, 200L, false, Nil),
      (2L, null, null, 200L, true, Seq("name", "v")),
      (3L, "c", 30L, 200L, false, Nil))
    val w = new MergeWriter(spark, tmpDir("wl_chnat") + "/t",
      Seq("id"))
    w.merge(b1(), hardDelete = true); w.merge(chB2, hardDelete = true)

    val t = MergeTarget("ch_dst", "ch_stg", Seq("id"), payload)
    val wh = new StubWarehouse(spark, QKind.Dialect.ClickHouse)
    val loader = new WarehouseLoader(t, wh, QKind.Dialect.ClickHouse)
    loader.setup()
    loader.loadBatch(b1(), tmpDir("wl_ch1"))
    loader.loadBatch(chB2, tmpDir("wl_ch2"))
    assert(snap(wh.table("ch_dst")) == snap(w.read()))
    // raw (un-collapsed) table holds every inserted version — the RMT
    // append-only contract
    assert(wh.exists("ch_dst"))
  }
}
