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

/** The BigQuery destination over the public REST API
  * ([[BigQuerySqlApi]]): the engine's staged-batch MERGE in BigQuery's
  * backtick dialect submitted via `jobs.query` (incomplete-job polling
  * included) with the streaming-insert bulk leg — the
  * WarehouseLoaderSpec equality oracle over the real wire shapes. The
  * reference's RANK-dedup CTE (bigquery/merge_stmt_generator.go:26-224)
  * already ran Spark-side in [[graft.cdc.Normalizer]], so the MERGE
  * here sees one row per key, like every other warehouse. */
class BigQueryWireSpec extends SparkSpec {

  private final class BqFixture {
    val stub = new StubWarehouse(spark, QKind.Dialect.BigQuery)
    @volatile var asyncRemaining = 0
    /** Answer every jobs.query POST/poll with jobComplete:false —
      * the poll-budget-exhaustion path. */
    @volatile var neverComplete = false
    @volatile var sawBearer: Option[String] = None
    /** Distinct `X-Graft-Load-Partition` header values seen — which
      * Spark task each bulk-leg request came from. */
    val loadPartitions: java.util.Set[String] =
      ConcurrentHashMap.newKeySet[String]()
    private val pending =
      new ConcurrentHashMap[String, Either[String, Unit]]()
    private val nextJob = new AtomicLong(1)
    private val server =
      HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)

    private def unescape(s: String): String = s
      .replace("\\\"", "\"").replace("\\n", "\n").replace("\\r", "\r")
      .replace("\\t", "\t").replace("\\\\", "\\")
    private val QueryRe = """"query"\s*:\s*"((?:[^"\\]|\\.)*)"""".r
    private val InsertPath =
      "^/bigquery/v2/projects/([^/]+)/datasets/([^/]+)/tables/([^/]+)/insertAll$".r
    private val QueriesPath = "^/bigquery/v2/projects/([^/]+)/queries$".r
    private val JobPath =
      "^/bigquery/v2/projects/([^/]+)/queries/([^/]+)$".r
    private val JobsPath = "^/bigquery/v2/projects/([^/]+)/jobs$".r
    private val JobStatusPath =
      "^/bigquery/v2/projects/([^/]+)/jobs/([^/]+)$".r
    private val RowJson = """"json":(\{[^{}]*\})""".r
    private val UrisRe = """"sourceUris"\s*:\s*\[(.*?)\]""".r
    private val TableIdRe = """"tableId"\s*:\s*"([^"]+)"""".r
    val loadJobs = new AtomicLong(0)
    val loadJobPolls = new AtomicLong(0)
    @volatile private var pendingLoad: Option[Either[String, Unit]] = None

    private def respond(ex: HttpExchange, code: Int,
        json: String): Unit = {
      val b = json.getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, b.length.toLong)
      ex.getResponseBody.write(b)
      ex.close()
    }
    private def jsonStr(s: String): String =
      "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n") + "\""

    server.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      sawBearer = Option(ex.getRequestHeaders.getFirst("Authorization"))
      Option(ex.getRequestHeaders.getFirst("X-Graft-Load-Partition"))
        .foreach(loadPartitions.add)
      (ex.getRequestMethod, ex.getRequestURI.getPath) match {
        case _ if neverComplete =>
          respond(ex, 200,
            """{"jobComplete":false,"jobReference":{},"jobId":"stuck"}""")
        case ("POST", QueriesPath(_)) =>
          val sql = unescape(QueryRe.findFirstMatchIn(body)
            .map(_.group(1)).getOrElse(""))
          val result =
            try { stub.execute(sql); Right(()) }
            catch { case e: Throwable =>
              Left(Option(e.getMessage).getOrElse(e.toString)) }
          if (asyncRemaining > 0) {
            asyncRemaining -= 1
            val j = "job" + nextJob.getAndIncrement()
            pending.put(j, result)
            respond(ex, 200,
              s"""{"jobComplete":false,"jobReference":{},"jobId":"$j"}""")
          } else result match {
            case Right(_) => respond(ex, 200, """{"jobComplete":true}""")
            case Left(err) => respond(ex, 400,
              s"""{"error":{"message":${jsonStr(err)},"code":400}}""")
          }
        case ("GET", JobPath(_, job)) =>
          pending.remove(job) match {
            case null =>
              respond(ex, 404, """{"error":{"message":"no job"}}""")
            case Right(_) => respond(ex, 200, """{"jobComplete":true}""")
            case Left(err) => respond(ex, 400,
              s"""{"error":{"message":${jsonStr(err)}}}""")
          }
        case ("POST", JobsPath(_)) =>
          // configuration.load: decode the staged URIs with their own
          // embedded writer schemas, like the real load job does
          loadJobs.incrementAndGet()
          val files = UrisRe.findFirstMatchIn(body).map(_.group(1))
            .getOrElse("").split(',').toSeq.map(_.trim
              .stripPrefix("\"").stripSuffix("\"")
              .stripPrefix("file://")).filter(_.nonEmpty)
          val table = TableIdRe.findFirstMatchIn(body).map(_.group(1))
            .getOrElse("?")
          pendingLoad = Some(
            try { stub.loadAvroAuto(table, files); Right(()) }
            catch { case e: Throwable =>
              Left(Option(e.getMessage).getOrElse(e.toString)) })
          respond(ex, 200, """{"jobReference":{"jobId":"ld1"},""" +
            """"status":{"state":"RUNNING"}}""")
        case ("GET", JobStatusPath(_, _)) =>
          loadJobPolls.incrementAndGet()
          pendingLoad match {
            case Some(Right(_)) => respond(ex, 200,
              """{"status":{"state":"DONE"}}""")
            case Some(Left(err)) => respond(ex, 200,
              s"""{"status":{"state":"DONE","errorResult":""" +
                s"""{"message":${jsonStr(err)}}}}""")
            case None =>
              respond(ex, 404, """{"error":{"message":"no load job"}}""")
          }
        case ("POST", InsertPath(_, _, table)) =>
          try {
            stub.insertJson(table,
              RowJson.findAllMatchIn(body).map(_.group(1)).toSeq)
            respond(ex, 200, """{"kind":"bigquery#response"}""")
          } catch {
            case e: Throwable => respond(ex, 400,
              s"""{"insertErrors":[{"message":${jsonStr(
                Option(e.getMessage).getOrElse("boom"))}}]}""")
          }
        case _ => respond(ex, 404, """{"error":{"message":"no path"}}""")
      }
    })
    server.start()
    // load_parallelism 2: the fixture's stub replays need free task
    // slots in the same local[4] session the loader tasks block in —
    // a cycle a real warehouse doesn't have
    def url: String = "bigquery://127.0.0.1:" +
      s"${server.getAddress.getPort}/my-project" +
      "?dataset=peerdb&token=bqtok&poll_ms=10&load_parallelism=2"
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
    (1L, "a", 10L, 100L, false, Nil),
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

  test("bigquery REST loader e2e: staged rows ride insertAll, the " +
    "backtick-dialect MERGE runs via jobs.query (incomplete-job poll " +
    "exercised), and the result equals the native MergeWriter") {
    val bq = new BqFixture
    try {
      val t = MergeTarget("wh_dst", "wh_stg", Seq("id"), payload)
      val loader = new WarehouseLoader(t,
        new BigQuerySqlApi(bq.url), "bigquery")
      loader.setup()
      bq.asyncRemaining = 2
      loader.loadBatch(b1(), tmpDir("bq_stage1"))
      loader.loadBatch(b2(), tmpDir("bq_stage2"))

      val native = new MergeWriter(spark, tmpDir("bq_native") + "/t",
        Seq("id"))
      native.merge(b1()); native.merge(b2())
      assert(snap(bq.stub.table("wh_dst")) == snap(native.read()),
        snap(bq.stub.table("wh_dst")).mkString("\n"))

      assert(!bq.stub.exists("wh_stg"))
      assert(bq.sawBearer.contains("Bearer bqtok"))
      val stmts = bq.stub.statements
      // BigQuery-dialect shapes: backtick MERGE + CLUSTER BY DDL
      assert(stmts.count(_.startsWith("MERGE INTO `wh_dst` dst")) == 2,
        stmts.filter(_.startsWith("MERGE")).mkString("\n"))
      assert(stmts.exists(s => s.startsWith("CREATE TABLE") &&
        s.contains("CLUSTER BY")), "BQ DDL must flow")
      assert(stmts.head.contains("`id` INT64"),
        "backtick columns in BQ types")

      // replay idempotence (>= version guard)
      val once = snap(bq.stub.table("wh_dst"))
      loader.loadBatch(b2(), tmpDir("bq_stage3"))
      assert(snap(bq.stub.table("wh_dst")) == once)
    } finally bq.stop()
  }

  test("the bulk leg runs EXECUTOR-side, one task per staged file: " +
    "every insertAll request carries its Spark partition id and a " +
    "REPEATED (array) column rides as a JSON array — not a " +
    "WrappedArray.toString") {
    val bq = new BqFixture
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
          i, Seq(s"t$i", "plain"), 100L, false, Seq.empty[String]))
          .toList.asJava, arrSchema)
        .repartition(3) // ≥2 staged files → ≥2 load tasks

      val t = MergeTarget("bq_arr_dst", "bq_arr_stg", Seq("id"),
        arrPayload)
      val loader = new WarehouseLoader(t,
        new BigQuerySqlApi(bq.url), "bigquery")
      loader.setup()
      loader.loadBatch(batch, tmpDir("bq_arr_stage"))

      assert(bq.loadPartitions.size >= 2,
        s"expected >=2 load partitions, saw ${bq.loadPartitions}")
      val got = bq.stub.table("bq_arr_dst")
        .select("id", "tags").collect()
        .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
      assert(got.size == 6 && got(4L) == Seq("t4", "plain"),
        got.toString)
    } finally bq.stop()
  }

  test("GCS-shaped load-job bulk path (load_uri_base): one POST /jobs " +
    "per batch names every staged URI, polls the job to DONE, and the " +
    "result equals the native MergeWriter — the SDK LoaderFrom path " +
    "restated over REST") {
    val bq = new BqFixture
    try {
      val base = tmpDir("bq_load_base")
      val url = bq.url + s"&load_uri_base=file://$base&stage_base=$base"
      val t = MergeTarget("ld_dst", "ld_stg", Seq("id"), payload)
      val loader = new WarehouseLoader(t,
        new BigQuerySqlApi(url), "bigquery")
      loader.setup()
      loader.loadBatch(b1(), s"$base/1")
      loader.loadBatch(b2(), s"$base/2")

      val native = new MergeWriter(spark, tmpDir("ld_native") + "/t",
        Seq("id"))
      native.merge(b1()); native.merge(b2())
      assert(snap(bq.stub.table("ld_dst")) == snap(native.read()),
        snap(bq.stub.table("ld_dst")).mkString("\n"))
      assert(bq.loadJobs.get() == 2, s"jobs: ${bq.loadJobs.get()}")
      assert(bq.loadJobPolls.get() >= 2,
        "the RUNNING→DONE poll leg must be exercised")
    } finally bq.stop()
  }

  test("a job still incomplete after the poll budget FAILS the " +
    "statement — the MERGE may finish server-side later, so silently " +
    "returning success would drop staging and advance the HWM over a " +
    "lost batch") {
    val bq = new BqFixture
    try {
      bq.neverComplete = true
      val api = new BigQuerySqlApi(bq.url + "&max_polls=3")
      val e = intercept[java.io.IOException] {
        api.execute("MERGE INTO `x` dst USING `y` src ON FALSE " +
          "WHEN NOT MATCHED THEN INSERT ROW")
      }
      assert(e.getMessage.contains("still running") &&
        e.getMessage.contains("3 polls"), e.getMessage)
    } finally bq.stop()
  }

  test("bigquery:// as a full CDC mirror destination equals the " +
    "native MergeWriter; a failing statement surfaces the API's " +
    "error message") {
    import graft.cdc.ChangeLogWal
    import graft.mirror.{MirrorConfig, MirrorRunner}
    import graft.model.ChangeRecord
    val bq = new BqFixture
    try {
      val wal = tmpDir("bq_wal")
      val base = tmpDir("bq_mirror")
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
        warehouseUrl = Some(bq.url))
      new MirrorRunner(spark, cfg).runAvailableNow()
      ChangeLogWal.append(wal, Seq(
        rec(20, ChangeRecord.TypeUpdate, """{"id":1,"v":11}""",
          toast = Seq("name")),
        rec(21, ChangeRecord.TypeDelete,
          """{"id":2,"name":"beta","v":20}""",
          matchData = """{"id":2}""")))
      new MirrorRunner(spark, cfg).runAvailableNow()

      val local = cfg.copy(warehouseUrl = None, rawDir = s"$base/raw2",
        destDir = s"$base/dest2", checkpointDir = s"$base/ckpt2")
      val lr = new MirrorRunner(spark, local)
      lr.runAvailableNow()
      def rows(df: DataFrame) =
        df.select("id", "name", "v").orderBy("id").collect().toSeq
          .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      val got = rows(bq.stub.table("docs")
        .filter(!org.apache.spark.sql.functions
          .col(RawTable.IsDeleted)))
      assert(got == rows(lr.destination()),
        s"bigquery destination diverged: $got")

      val api = new BigQuerySqlApi(bq.url)
      val e = intercept[java.io.IOException] {
        api.execute("FROB TABLE nope")
      }
      assert(e.getMessage.contains("unsupported statement"),
        e.getMessage)

      // RESYNC: DROP + ALTER TABLE ... RENAME TO (BigQuery exposes no
      // swap) — drift corrects, no _peerdb_resync leftovers
      def run(sql: String) = graft.mirror.GraftSql.execute(spark,
        graft.mirror.GraftSql.parse(sql)
          .getOrElse(fail(s"did not parse: $sql")))
      run(s"""CREATE MIRROR bqmir WITH (
         |  wal_dir '$wal', dest_dir '$base/dest3',
         |  checkpoint_dir '$base/ckpt3', pk 'id',
         |  table 'docs', schema 'id BIGINT, name STRING, v BIGINT',
         |  warehouse_url '${bq.url}')""".stripMargin)
      run("EXECUTE MIRROR bqmir")
      bq.stub.execute("DELETE FROM `docs` WHERE `id` = 1") // drift
      run("RESYNC MIRROR bqmir")
      assert(rows(bq.stub.table("docs")
        .filter(!org.apache.spark.sql.functions
          .col(RawTable.IsDeleted))) == rows(lr.destination()),
        "post-resync bigquery destination != native state")
      assert(!bq.stub.exists("docs_peerdb_resync"))
      assert(bq.stub.statements.exists(_.matches(
        "(?s)ALTER TABLE `docs_peerdb_resync` RENAME TO `docs`.*")),
        "the swap must ride ALTER TABLE ... RENAME TO")
      run("DROP MIRROR bqmir")
    } finally bq.stop()
  }

  test("object-pull EXPORT DATA shaping (qrep_object_pull.go:381-437):" +
    " JSON columns cast through TO_JSON_STRING, GEOGRAPHY through " +
    "ST_AsText, DATETIME through CAST AS TIMESTAMP; plain columns " +
    "pass bare; the statement carries the PARQUET/GZIP/overwrite " +
    "options and the table-scoped wildcard uri") {
    val stmts = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val http = HttpServer.create(
      new InetSocketAddress("127.0.0.1", 0), 0)
    http.createContext("/", (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      stmts.add(body)
      val resp = (if (body.contains("LIMIT 0"))
        """{"jobComplete":true,"schema":{"fields":[
          {"name":"id","type":"INTEGER"},
          {"name":"payload","type":"JSON"},
          {"name":"geo","type":"GEOGRAPHY"},
          {"name":"created","type":"DATETIME"},
          {"name":"name","type":"STRING"}]},"rows":[]}"""
      else """{"jobComplete":true}""").getBytes(UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(200, resp.length.toLong)
      ex.getResponseBody.write(resp)
      ex.close()
    })
    http.start()
    try {
      val api = new BigQuerySqlApi("bigquery://127.0.0.1:" +
        s"${http.getAddress.getPort}/proj?dataset=ds&token=t")
      val sql = api.exportToParquet("ds.events",
        "gs://stage/snapshots")
      assert(sql.contains("uri='gs://stage/snapshots/ds.events/" +
        "*.parquet'"))
      assert(sql.contains("format='PARQUET'"))
      assert(sql.contains("compression='GZIP'"))
      assert(sql.contains("overwrite=true"))
      assert(sql.contains("TO_JSON_STRING(`payload`) AS `payload`"))
      assert(sql.contains("ST_AsText(`geo`) AS `geo`"))
      assert(sql.contains("CAST(`created` AS TIMESTAMP) AS `created`"))
      assert(sql.contains("`id`, ") && sql.contains(", `name`"),
        s"plain columns pass bare: $sql")
      assert(sql.contains("FROM `ds`.`events`"))
      // the statement actually EXECUTED through jobs.query
      assert(stmts.toArray.map(_.toString)
        .count(_.contains("EXPORT DATA")) == 1)
    } finally http.stop(0)
  }
}
