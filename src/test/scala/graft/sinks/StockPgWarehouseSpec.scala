package graft.sinks

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{MergeWriter, Normalizer, StockPostgres}
import graft.model.RawTable
import graft.server.PgClient

/** The warehouse staging→COPY→normalize loop against a REAL stock
  * PostgreSQL 15 destination: [[PgWarehouse]] executes the generated
  * DDL + MERGE / ON CONFLICT statements over a live pgwire session and
  * bulk-loads the Avro stage through `COPY … FROM STDIN`, and the
  * result must equal the native [[MergeWriter]] on the same change
  * set — the same oracle [[WarehouseLoaderSpec]] applies to the
  * in-process stub, now with nothing stubbed at all (the reference's
  * PG destination normalize loop, flow/connectors/postgres/). */
class StockPgWarehouseSpec extends SparkSpec {

  private var server: Option[StockPostgres.Server] = None
  override def beforeAll(): Unit = {
    super.beforeAll()
    server = StockPostgres.start()
  }
  override def afterAll(): Unit = {
    server.foreach(_.stop())
    super.afterAll()
  }
  private def srv: StockPostgres.Server = {
    assume(server.isDefined, "stock postgres unavailable in this env")
    server.get
  }
  private def client(): PgClient =
    new PgClient("127.0.0.1", srv.port, user = "postgres",
      database = "postgres").connect()

  // ------- the WarehouseLoaderSpec change set, replayed on a real PG

  private val payload = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("v", LongType)))

  private val changeSchema = StructType(payload.fields ++ Seq(
    StructField(RawTable.Version, LongType),
    StructField(RawTable.IsDeleted, BooleanType),
    StructField(Normalizer.AbsentCols, ArrayType(StringType))))

  private def changes(rows: (Long, String, Any, Long, Boolean,
      Seq[String])*): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toList.map {
      case (id, n, v, ver, del, abs) =>
        org.apache.spark.sql.Row(id, n, v, ver, del, abs)
    }.asJava, changeSchema)
  }

  private val b1 = () => changes(
    (1L, "a", 10L, 100L, false, Nil),
    (2L, "b", 20L, 100L, false, Nil))

  private val b2 = () => changes(
    (1L, null, 11L, 200L, false, Seq("name")), // TOAST: keep name "a"
    (2L, null, null, 200L, true, Seq("name", "v")), // delete
    (3L, "c", 30L, 200L, false, Nil),          // new key
    (4L, "d", null, 200L, false, Seq("v")),    // new key, absent v → null
    (5L, null, null, 200L, true, Seq("name", "v"))) // delete unknown key

  private type Snap = Set[(Long, String, Any, Long, Boolean)]

  private def nativeResult(): Snap = {
    val w = new MergeWriter(spark, tmpDir("spg_native") + "/t",
      Seq("id"))
    w.merge(b1(), hardDelete = false)
    w.merge(b2(), hardDelete = false)
    w.read().collect().map { r =>
      (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.get(r.fieldIndex("v")), r.getAs[Long](RawTable.Version),
        r.getAs[Boolean](RawTable.IsDeleted))
    }.toSet
  }

  /** Destination read-back over the live session, same tuple shape. */
  private def pgSnap(c: PgClient, table: String): Snap =
    c.query(s"""SELECT id, name, v, "${RawTable.Version}",
        "${RawTable.IsDeleted}" FROM $table""").rows.map { r =>
      (r(0).get.toLong, r(1).orNull,
        r(2).map(_.toLong).getOrElse(null).asInstanceOf[Any],
        r(3).get.toLong, r(4).get == "t")
    }.toSet

  private def runLoader(table: String, staging: String,
      useMerge: Boolean): Snap = {
    val c = client()
    try {
      val t = MergeTarget(table, staging, Seq("id"), payload)
      val loader = new WarehouseLoader(t, new PgWarehouse(c),
        graft.types.QKind.Dialect.Ansi, useMerge = useMerge)
      loader.setup()
      loader.loadBatch(b1(), tmpDir("spg_s1"))
      loader.loadBatch(b2(), tmpDir("spg_s2"))
      val got = pgSnap(c, table)

      // replay (at-least-once delivery) and a stale batch: no change
      loader.loadBatch(b2(), tmpDir("spg_s3"))
      loader.loadBatch(
        changes((1L, "stale", 1L, 50L, false, Nil)), tmpDir("spg_s4"))
      assert(pgSnap(c, table) == got, "replay/stale must not clobber")
      // staging table really dropped on the server
      assert(c.query("SELECT count(*) FROM pg_tables WHERE tablename" +
        s" = '${staging.split("\\.").last}'")
        .rows.head.head.contains("0"))
      got
    } finally c.close()
  }

  test("stock PG destination: generated ANSI MERGE via COPY-staged " +
    "batches equals the native MergeWriter; replay and stale batches " +
    "are no-ops") {
    assert(runLoader("public.wh_dst", "public.wh_stg",
      useMerge = true) == nativeResult())
  }

  test("stock PG destination: the ON CONFLICT fallback (PG<15 / " +
    "cockroachdb flavor) produces the same result on a real server") {
    assert(runLoader("public.wh_dst2", "public.wh_stg2",
      useMerge = false) == nativeResult())
  }

  test("COPY text-format codec: hostile strings, arrays, numerics, " +
    "timestamps, dates, bytea and infinities round-trip through a " +
    "real COPY FROM STDIN") {
    val s = srv
    s.psql("""CREATE TABLE public.copy_t (
      i bigint, d double precision, n numeric(12,4), b boolean,
      t text, ts timestamptz, dt date, arr bigint[], sarr text[],
      by bytea)""")
    val schema = StructType(Seq(
      StructField("i", LongType), StructField("d", DoubleType),
      StructField("n", DecimalType(12, 4)),
      StructField("b", BooleanType), StructField("t", StringType),
      StructField("ts", TimestampType), StructField("dt", DateType),
      StructField("arr", ArrayType(LongType)),
      StructField("sarr", ArrayType(StringType)),
      StructField("by", BinaryType)))
    val hostile = "tab\there\nnl \\back 'q' \"dq\" ütf"
    val rows = Seq(
      org.apache.spark.sql.Row(1L, 1.5, new java.math.BigDecimal("12345.6789"),
        true, hostile,
        java.sql.Timestamp.from(
          java.time.Instant.parse("2024-03-04T05:06:07.123456Z")),
        java.sql.Date.valueOf("2024-03-04"),
        Seq(1L, 2L, null), Seq("a,b", "c\"d\\e", null, "NULL"),
        Array[Byte](0, 1, 127, -128)),
      org.apache.spark.sql.Row(2L, Double.PositiveInfinity,
        null, null, null, null, null, null, null, null))
    val c = client()
    try {
      c.copyIn("COPY public.copy_t FROM STDIN",
        rows.iterator.map(r => PgWarehouse.copyLine(r, schema)))
      val back = c.query("""SELECT i, d::text, n::text, b, t,
        to_char(ts AT TIME ZONE 'UTC', 'YYYY-MM-DD HH24:MI:SS.US'),
        dt::text, arr::text, array_to_string(sarr, '|', '<null>'),
        encode(by, 'hex') FROM public.copy_t ORDER BY i""").rows
      assert(back.size == 2)
      val r1 = back(0)
      assert(r1(1).contains("1.5"))
      assert(r1(2).contains("12345.6789"))
      assert(r1(3).contains("t"))
      assert(r1(4).contains(hostile)) // tabs/newlines/backslashes intact
      assert(r1(5).contains("2024-03-04 05:06:07.123456"))
      assert(r1(6).contains("2024-03-04"))
      assert(r1(7).contains("{1,2,NULL}"))
      assert(r1(8).contains("a,b|c\"d\\e|<null>|NULL"))
      assert(r1(9).contains("00017f80"))
      val r2 = back(1)
      assert(r2(1).contains("Infinity"))
      assert((2 to 9).forall(r2(_).isEmpty))

      // a COPY error (bad column count) raises AND the session stays
      // usable afterwards — the drain-to-RFQ discipline
      intercept[PgClient.PgServerError](
        c.copyIn("COPY public.copy_t FROM STDIN",
          Iterator("only-one-field")))
      assert(c.query("SELECT 1").rows.head.head.contains("1"))
    } finally {
      c.close()
      s.psql("DROP TABLE public.copy_t")
    }
  }
}
