package graft.sinks

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{MergeWriter, Normalizer}
import graft.model.RawTable
import graft.types.QKind

/** The Snowflake destination over the public SQL API v2
  * ([[SnowflakeSqlApi]]): the engine's generated stage→MERGE loop
  * (snowflake/qrep_avro_consolidate.go:42-236,
  * merge_stmt_generator.go:29-225) submitted as REST statements
  * against an in-process API fixture, with [[StubWarehouse]] in
  * Snowflake dialect replaying the statement text — the
  * WarehouseLoaderSpec equality oracle reached over the real wire
  * surface, async 202→poll contract included. */
class SnowflakeWireSpec extends SparkSpec {

  /** SQL API v2 fixture: POST /api/v2/statements executes against the
    * stub; `asyncRemaining > 0` makes submissions answer 202 with a
    * handle first (the long-running contract), resolved by GET
    * /api/v2/statements/{handle}. Failures answer 422 with the JSON
    * `message`, like the real API. */
  private final class SfFixture {
    val stub = new StubWarehouse(spark, QKind.Dialect.Snowflake)
    @volatile var asyncRemaining = 0
    @volatile var sawBearer: Option[String] = None
    /** Distinct `X-Graft-Load-Partition` header values seen — which
      * Spark task each bulk-leg request came from. */
    val loadPartitions: java.util.Set[String] =
      ConcurrentHashMap.newKeySet[String]()
    private val pending = new ConcurrentHashMap[String, Either[String, Unit]]()
    private val nextHandle = new AtomicLong(1)
    private val server =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

    private def unescape(s: String): String = s
      .replace("\\\"", "\"").replace("\\n", "\n").replace("\\r", "\r")
      .replace("\\t", "\t").replace("\\\\", "\\")
    private def statementOf(body: String): String = {
      val Re = """"statement"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
      unescape(Re.findFirstMatchIn(body).map(_.group(1)).getOrElse(
        throw new IllegalArgumentException(
          s"no statement in: ${body.take(200)}")))
    }
    private def respond(ex: HttpExchange, code: Int,
        json: String): Unit = {
      val b = json.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    }
    server.createContext("/api/v2/statements", (ex: HttpExchange) => {
      val path = ex.getRequestURI.getPath
        .stripPrefix("/api/v2/statements")
      sawBearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
      Option(ex.getRequestHeaders.getFirst("X-Graft-Load-Partition"))
        .foreach(loadPartitions.add)
      if (ex.getRequestMethod == "POST" && (path.isEmpty || path == "/")) {
        val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
        val result =
          try { stub.execute(statementOf(body)); Right(()) }
          catch { case e: Throwable =>
            Left(Option(e.getMessage).getOrElse(e.toString)) }
        if (asyncRemaining > 0) {
          asyncRemaining -= 1
          val h = "h" + nextHandle.getAndIncrement()
          pending.put(h, result)
          respond(ex, 202, s"""{"statementHandle":"$h"}""")
        } else result match {
          case Right(_) => respond(ex, 200,
            """{"statementHandle":"sync","message":"ok"}""")
          case Left(err) => respond(ex, 422,
            s"""{"message":${jsonStr(err)}}""")
        }
      } else if (ex.getRequestMethod == "GET") {
        pending.remove(path.stripPrefix("/")) match {
          case null => respond(ex, 404, """{"message":"no such handle"}""")
          case Right(_) => respond(ex, 200, """{"message":"ok"}""")
          case Left(err) => respond(ex, 422,
            s"""{"message":${jsonStr(err)}}""")
        }
      } else respond(ex, 405, """{"message":"method"}""")
    })
    private def jsonStr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n") + "\""
    server.start()
    // load_parallelism 2: the fixture's stub replays need free task
    // slots in the same local[4] session the loader tasks block in —
    // a cycle a real warehouse doesn't have
    def url: String = "snowflake://127.0.0.1:" +
      s"${server.getAddress.getPort}/ANALYTICS?schema=PUBLIC&" +
      "warehouse=WH&token=tok123&poll_ms=10&load_parallelism=2"
    def stop(): Unit = server.stop(0)
  }

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
    (1L, "a'quote\\slash", 10L, 100L, false, Nil),
    (2L, "b", 20L, 100L, false, Nil))
  private val b2 = () => changes(
    (1L, null, 11L, 200L, false, Seq("name")), // TOAST branch
    (2L, null, null, 200L, true, Seq("name", "v")), // delete
    (3L, "c", 30L, 200L, false, Nil))

  private def snap(df: DataFrame): Set[(Long, String, Any, Long, Boolean)] =
    df.collect().map { r =>
      (r.getAs[Long]("id"), r.getAs[String]("name"),
        r.get(r.fieldIndex("v")), r.getAs[Long](RawTable.Version),
        r.getAs[Boolean](RawTable.IsDeleted))
    }.toSet

  test("snowflake SQL API loader e2e: staged rows ride INSERT VALUES, " +
    "the TOAST-branch MERGE runs over REST (202→poll exercised), and " +
    "the result equals the native MergeWriter; bearer auth travels") {
    val sf = new SfFixture
    try {
      val t = MergeTarget("wh_dst", "wh_stg", Seq("id"), payload)
      val loader = new WarehouseLoader(t,
        new SnowflakeSqlApi(sf.url), "snowflake")
      loader.setup()
      sf.asyncRemaining = 2 // first statements resolve via the poll leg
      loader.loadBatch(b1(), tmpDir("sf_stage1"))
      loader.loadBatch(b2(), tmpDir("sf_stage2"))

      val native = new MergeWriter(spark, tmpDir("sf_native") + "/t",
        Seq("id"))
      native.merge(b1()); native.merge(b2())
      assert(snap(sf.stub.table("wh_dst")) == snap(native.read()),
        snap(sf.stub.table("wh_dst")).mkString("\n"))

      assert(!sf.stub.exists("wh_stg"), "staging dropped after batch")
      assert(sf.sawBearer.contains("Bearer tok123"))
      val stmts = sf.stub.statements
      assert(stmts.count(_.startsWith("MERGE INTO")) == 2)
      assert(stmts.exists(_.contains("TIMESTAMP_NTZ")),
        "Snowflake-dialect DDL must flow") // createTable meta column
      assert(stmts.exists(s => s.startsWith("INSERT INTO") &&
        s.contains(") VALUES (")), "SQL-API bulk leg is INSERT VALUES")

      // replay idempotence (the >= version guard, same as pgwire)
      val once = snap(sf.stub.table("wh_dst"))
      loader.loadBatch(b2(), tmpDir("sf_stage3"))
      assert(snap(sf.stub.table("wh_dst")) == once)
    } finally sf.stop()
  }

  test("snowflake:// as a full CDC mirror destination: WAL batches " +
    "normalize through the SQL API (stage INSERT VALUES + MERGE) and " +
    "the destination equals the native MergeWriter, replays included") {
    import graft.cdc.ChangeLogWal
    import graft.mirror.{MirrorConfig, MirrorRunner}
    import graft.model.ChangeRecord
    val sf = new SfFixture
    try {
      val wal = tmpDir("sf_wal")
      val base = tmpDir("sf_mirror")
      def rec(cp: Long, rt: Int, data: String,
          matchData: String = null,
          toast: Seq[String] = Nil): ChangeRecord =
        ChangeRecord(rt, cp, cp.toString, cp * 1000, cp / 10,
          "public.t", "docs", data, matchData, toast)
      ChangeLogWal.append(wal, Seq(
        rec(10, ChangeRecord.TypeInsert,
          """{"id":1,"name":"alpha","v":10}"""),
        rec(11, ChangeRecord.TypeInsert,
          """{"id":2,"name":"beta","v":20}""")))
      val cfg = MirrorConfig(
        walDir = wal, rawDir = s"$base/raw", destDir = s"$base/dest",
        checkpointDir = s"$base/ckpt", pkColumns = Seq("id"),
        payloadSchema = payload, destinationTable = "docs",
        warehouseUrl = Some(sf.url))
      new MirrorRunner(spark, cfg).runAvailableNow()

      ChangeLogWal.append(wal, Seq(
        rec(20, ChangeRecord.TypeUpdate, """{"id":1,"v":11}""",
          toast = Seq("name")), // TOAST: keep 'alpha' via MERGE branch
        rec(21, ChangeRecord.TypeDelete,
          """{"id":2,"name":"beta","v":20}""",
          matchData = """{"id":2}""")))
      new MirrorRunner(spark, cfg).runAvailableNow()

      val local = cfg.copy(warehouseUrl = None, rawDir = s"$base/raw2",
        destDir = s"$base/dest2", checkpointDir = s"$base/ckpt2")
      val lr = new MirrorRunner(spark, local)
      lr.runAvailableNow()
      def rows(df: org.apache.spark.sql.DataFrame) =
        df.select("id", "name", "v").orderBy("id").collect().toSeq
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      // destination table name is the mirror's: 'docs'
      val got = rows(sf.stub.table("docs")
        .filter(!org.apache.spark.sql.functions
          .col(RawTable.IsDeleted)))
      assert(got == rows(lr.destination()),
        s"snowflake destination diverged: $got")
    } finally sf.stop()
  }

  test("QRep dest_url 'snowflake://': append rounds land via INSERT " +
    "VALUES; overwrite full-refreshes via TRUNCATE over the SQL API") {
    val sf = new SfFixture
    try {
      import spark.implicits._
      val base = tmpDir("sf_qrep")
      def writeSrc(rows: Seq[(Long, Long)]): Unit =
        rows.toDF("id", "v").write
          .mode("overwrite").parquet(s"$base/src/src_t.parquet")
      writeSrc((1L to 40L).map(i => i -> i))
      def run(sql: String) = graft.mirror.GraftSql.execute(spark,
        graft.mirror.GraftSql.parse(sql)
          .getOrElse(fail(s"did not parse: $sql")))
      run(s"CREATE PEER sfsrc TYPE parquet OPTIONS (dir '$base/src')")
      run(s"CREATE PEER sfdst TYPE parquet OPTIONS (dir '$base/dst')")
      run(s"""CREATE MIRROR sfq FROM sfsrc TO sfdst FOR
         |$$$$ SELECT id, v FROM src_t
         |WHERE id BETWEEN {{.start}} AND {{.end}} $$$$ WITH (
         |  watermark_column 'id', source_table 'src_t',
         |  dest_dir '$base/q', mode 'overwrite',
         |  dest_url '${sf.url}', dest_table 'sfq_dest')"""
        .stripMargin)
      run("EXECUTE MIRROR sfq")
      assert(sf.stub.table("sfq_dest").count() == 40)
      writeSrc((1L to 15L).map(i => i -> i))
      run("EXECUTE MIRROR sfq")
      assert(sf.stub.table("sfq_dest").count() == 15,
        "overwrite must TRUNCATE before reload")
      assert(sf.stub.statements.exists(_.startsWith(
        """TRUNCATE TABLE "sfq_dest"""")))
      run("DROP MIRROR sfq")
      run("DROP PEER sfsrc"); run("DROP PEER sfdst")
    } finally sf.stop()
  }

  test("snowflake:// RESYNC: rebuild lands in _peerdb_resync while " +
    "the original serves, then ALTER TABLE ... SWAP WITH swaps " +
    "atomically — drift corrects, no leftovers, the stream continues") {
    import graft.cdc.ChangeLogWal
    import graft.model.ChangeRecord
    val sf = new SfFixture
    try {
      val base = tmpDir("sf_resync")
      def run(sql: String) = graft.mirror.GraftSql.execute(spark,
        graft.mirror.GraftSql.parse(sql)
          .getOrElse(fail(s"did not parse: $sql")))
      def rec(cp: Long, rt: Int, data: String): ChangeRecord =
        ChangeRecord(rt, cp, cp.toString, cp * 1000, cp / 10,
          "public.t", "docs", data, null, Nil)
      run(s"""CREATE MIRROR sfmir WITH (
         |  wal_dir '$base/wal', dest_dir '$base/dest',
         |  checkpoint_dir '$base/ckpt', pk 'id',
         |  table 'docs', schema 'id BIGINT, name STRING, v BIGINT',
         |  warehouse_url '${sf.url}')""".stripMargin)
      ChangeLogWal.append(s"$base/wal", Seq(
        rec(10, ChangeRecord.TypeInsert,
          """{"id":1,"name":"a","v":1}"""),
        rec(11, ChangeRecord.TypeInsert,
          """{"id":2,"name":"b","v":2}""")))
      run("EXECUTE MIRROR sfmir")
      assert(sf.stub.table("docs").count() == 2)

      // drift: a row vanishes on the destination
      sf.stub.execute("""DELETE FROM "docs" WHERE "id" = 1""")
      assert(sf.stub.table("docs").count() == 1)

      run("RESYNC MIRROR sfmir")
      assert(sf.stub.table("docs")
        .filter(!org.apache.spark.sql.functions
          .col(RawTable.IsDeleted)).count() == 2,
        "resync must rebuild the drifted destination")
      assert(!sf.stub.exists("docs_peerdb_resync"),
        "no _peerdb_resync leftovers after the swap")
      assert(sf.stub.statements.exists(_.contains(" SWAP WITH ")),
        "the swap must ride Snowflake's atomic SWAP WITH")

      ChangeLogWal.append(s"$base/wal", Seq(
        rec(20, ChangeRecord.TypeInsert,
          """{"id":3,"name":"c","v":3}""")))
      run("EXECUTE MIRROR sfmir")
      assert(sf.stub.table("docs")
        .filter(!org.apache.spark.sql.functions
          .col(RawTable.IsDeleted)).count() == 3,
        "the stream must keep converging on the swapped table")
      run("DROP MIRROR sfmir")
    } finally sf.stop()
  }

  test("external-stage COPY INTO bulk path (stage_url): one CREATE OR " +
    "REPLACE STAGE + one COPY INTO per batch — the reference's " +
    "qrep_avro_consolidate shape, the warehouse pulls the files " +
    "itself — and the result equals the native MergeWriter") {
    val sf = new SfFixture
    try {
      val base = tmpDir("sf_copy_base")
      val url = sf.url + s"&stage_url=file://$base&stage_base=$base"
      val t = MergeTarget("cp_dst", "cp_stg", Seq("id"), payload)
      val loader = new WarehouseLoader(t,
        new SnowflakeSqlApi(url), "snowflake")
      loader.setup()
      loader.loadBatch(b1(), s"$base/1")
      loader.loadBatch(b2(), s"$base/2")

      val native = new MergeWriter(spark, tmpDir("cp_native") + "/t",
        Seq("id"))
      native.merge(b1()); native.merge(b2())
      assert(snap(sf.stub.table("cp_dst")) == snap(native.read()),
        snap(sf.stub.table("cp_dst")).mkString("\n"))

      val stmts = sf.stub.statements
      assert(stmts.count(_.startsWith(
        "CREATE OR REPLACE STAGE graft_stage URL = ")) == 2)
      val copies = stmts.filter(_.startsWith("COPY INTO"))
      assert(copies.size == 2 && copies.forall(s =>
        s.contains("FROM (SELECT ") && s.contains("FROM @graft_stage)") &&
        s.contains("FILES = ('") &&
        s.contains("FILE_FORMAT = (TYPE = AVRO), PURGE = TRUE")),
        copies.mkString("\n"))
      assert(copies.head.contains("""($1:"id")::INTEGER AS "id""""),
        "the per-column cast transform list must flow: " + copies.head)
      assert(!stmts.exists(s => s.startsWith("INSERT INTO") &&
        s.contains(") VALUES (")),
        "no row-chunk INSERTs on the stage path")
    } finally sf.stop()
  }

  test("the bulk leg runs EXECUTOR-side, one task per staged file: " +
    "every INSERT request carries its Spark partition id, and an " +
    "array column rides the PARSE_JSON SELECT-FROM-VALUES form " +
    "(Snowflake's VALUES clause cannot carry ARRAY expressions)") {
    val sf = new SfFixture
    try {
      val arrPayload = StructType(Seq(
        StructField("id", LongType),
        StructField("tags", ArrayType(StringType))))
      val arrSchema = StructType(arrPayload.fields ++ Seq(
        StructField(RawTable.Version, LongType),
        StructField(RawTable.IsDeleted, BooleanType),
        StructField(Normalizer.AbsentCols, ArrayType(StringType))))
      import scala.jdk.CollectionConverters._
      val batch = spark.createDataFrame(
        (1L to 6L).map(i => org.apache.spark.sql.Row(
          i, Seq(s"t$i", "x'q"), 100L, false, Seq.empty[String]))
          .toList.asJava, arrSchema)
        .repartition(3) // ≥2 staged files → ≥2 load tasks

      val t = MergeTarget("arr_dst", "arr_stg", Seq("id"), arrPayload)
      val loader = new WarehouseLoader(t,
        new SnowflakeSqlApi(sf.url), "snowflake")
      loader.setup()
      loader.loadBatch(batch, tmpDir("sf_arr_stage"))

      // per-partition execution: distinct task partition ids observed
      // on the wire (absent entirely before the executor-parallel leg)
      assert(sf.loadPartitions.size >= 2,
        s"expected >=2 load partitions, saw ${sf.loadPartitions}")
      val ins = sf.stub.statements.filter(_.startsWith("INSERT INTO"))
      assert(ins.nonEmpty && ins.forall(s =>
        s.contains("PARSE_JSON($2)") && s.contains(" FROM VALUES ")),
        ins.mkString("\n"))
      // VARIANT carries as JSON text destination-side; values intact
      val got = sf.stub.table("arr_dst")
        .select("id", "tags").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      assert(got.size == 6 &&
        got(3L) == """["t3","x'q"]""", got.toString)
    } finally sf.stop()
  }

  test("a failing statement surfaces the API's JSON message") {
    val sf = new SfFixture
    try {
      val api = new SnowflakeSqlApi(sf.url)
      val e = intercept[java.io.IOException] {
        api.execute("FROB TABLE nope") // unsupported → stub throws
      }
      assert(e.getMessage.contains("HTTP 422") &&
        e.getMessage.contains("unsupported statement"), e.getMessage)
    } finally sf.stop()
  }
}
