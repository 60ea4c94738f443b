package graft.mirror

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.ChangeLogWal
import graft.model.ChangeRecord

class GraftSqlSpec extends SparkSpec {

  test("DDL grammar parses; non-graft SQL falls through") {
    import GraftSql._
    assert(parse("CREATE PEER src TYPE parquet OPTIONS (path '/x')") ==
      Some(CreatePeer("src", "parquet", Map("path" -> "/x"))))
    assert(parse("create mirror m1 with (pk 'id', schema 'id BIGINT')") ==
      Some(CreateMirror("m1", Map("pk" -> "id", "schema" -> "id BIGINT"))))
    assert(parse("EXECUTE MIRROR m1") == Some(ExecuteMirror("m1")))
    assert(parse("RESYNC MIRROR m1") == Some(ResyncMirror("m1")))
    assert(parse("PAUSE MIRROR m1") == Some(PauseMirror("m1")))
    assert(parse("resume mirror m1") == Some(ResumeMirror("m1")))
    // IF NOT EXISTS on the create arms (parser_peerdb.rs:115,130)
    assert(parse("CREATE PEER IF NOT EXISTS p2 TYPE parquet " +
      "OPTIONS (path '/x')") ==
      Some(CreatePeer("p2", "parquet", Map("path" -> "/x"),
        ifNotExists = true)))
    assert(parse("CREATE MIRROR IF NOT EXISTS m2 WITH (pk 'id')") ==
      Some(CreateMirror("m2", Map("pk" -> "id"), ifNotExists = true)))
    assert(parse("CREATE MIRROR IF NOT EXISTS m3 FROM a TO b FOR " +
      "$$ SELECT 1 $$ WITH (mode 'append')") ==
      Some(CreateQRepMirror("m3", "a", "b", "SELECT 1",
        Map("mode" -> "append"), ifNotExists = true)))
    // IF EXISTS on every drop/signal arm (parser_peerdb.rs:194-241)
    assert(parse("DROP MIRROR IF EXISTS m1") ==
      Some(DropMirror("m1", ifExists = true)))
    assert(parse("drop peer if exists p1") ==
      Some(DropPeer("p1", ifExists = true)))
    assert(parse("RESYNC MIRROR IF EXISTS m1") ==
      Some(ResyncMirror("m1", ifExists = true)))
    assert(parse("RESYNC MIRROR m1 WITH (query_string 'SELECT 1')") ==
      Some(ResyncMirror("m1",
        options = Map("query_string" -> "SELECT 1"))))
    assert(parse("PAUSE MIRROR IF EXISTS m1") ==
      Some(PauseMirror("m1", ifExists = true)))
    assert(parse("RESUME MIRROR IF EXISTS m1") ==
      Some(ResumeMirror("m1", ifExists = true)))
    assert(parse("SHOW MIRRORS") == Some(ShowMirrors))
    assert(parse("DECLARE c1 CURSOR FOR SELECT * FROM t ORDER BY id") ==
      Some(DeclareCursor("c1", "SELECT * FROM t ORDER BY id")))
    assert(parse("FETCH 500 FROM c1") == Some(FetchCursor("c1", Some(500))))
    assert(parse("fetch all from c1") == Some(FetchCursor("c1", None)))
    // the proxy's full direction set (analyzer/src/lib.rs:559-585)
    assert(parse("FETCH NEXT FROM c1") == Some(FetchCursor("c1", Some(1))))
    assert(parse("FETCH FORWARD FROM c1") ==
      Some(FetchCursor("c1", Some(1))))
    assert(parse("FETCH FORWARD 9 FROM c1") ==
      Some(FetchCursor("c1", Some(9))))
    assert(parse("FETCH FORWARD ALL FROM c1") ==
      Some(FetchCursor("c1", None)))
    assert(parse("FETCH FROM c1") == Some(FetchCursor("c1", Some(1))))
    assert(parse("FETCH 3 IN c1") == Some(FetchCursor("c1", Some(3))))
    assert(parse("CLOSE c1") == Some(CloseCursor("c1")))
    assert(parse("SELECT 1").isEmpty)
    assert(parse("CREATE TABLE t (id INT)").isEmpty)
  }

  test("cursor pages a 10k-row result incrementally (DECLARE/FETCH/CLOSE)") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      s.sql("DECLARE big CURSOR FOR " +
        "SELECT id, id * 2 AS dbl FROM range(10000) ORDER BY id")
      val p1 = s.sql("FETCH 4000 FROM big").collect()
      assert(p1.length == 4000)
      assert(p1.head.getLong(0) == 0L && p1.last.getLong(0) == 3999L)
      assert(p1.last.getLong(1) == 7998L) // schema carries both columns
      val p2 = s.sql("FETCH 4000 FROM big").collect()
      assert(p2.head.getLong(0) == 4000L && p2.length == 4000)
      val p3 = s.sql("FETCH ALL FROM big").collect()
      assert(p3.length == 2000 && p3.last.getLong(0) == 9999L)
      assert(s.sql("FETCH 10 FROM big").collect().isEmpty) // drained
      s.sql("CLOSE big")
      intercept[Exception](s.sql("FETCH 1 FROM big"))
      intercept[Exception](s.sql("CLOSE big")) // already closed
    } finally {
      // the session shares the suite-wide SparkContext — do NOT stop it
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("spark.sql end-to-end: create + execute mirror through the parser") {
    // A session with graft extensions on the shared context.
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val wal = tmpDir("sqlwal")
      val base = tmpDir("sqlmirror")
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 1, "1", 1000, 1, "t", "d",
          """{"id":1,"v":10}""", null, Nil),
        ChangeRecord(0, 2, "2", 2000, 2, "t", "d",
          """{"id":2,"v":20}""", null, Nil),
        ChangeRecord(2, 3, "3", 3000, 3, "t", "d", null,
          """{"id":1}""", Nil)))

      s.sql("CREATE PEER files TYPE parquet OPTIONS (compression 'snappy')")
      assert(s.sql("SHOW PEERS").collect().map(_.getString(0))
        .contains("files"))

      s.sql(s"""CREATE MIRROR m_test WITH (
               |  wal_dir '$wal', dest_dir '$base/dest',
               |  checkpoint_dir '$base/ckpt', pk 'id', table 'd',
               |  schema 'id BIGINT, v BIGINT', max_batch_size '10',
               |  agg_view 'id:v:$base/agg')"""
        .stripMargin)
      assert(s.sql("SHOW MIRRORS").collect().map(_.getString(0))
        .contains("m_test"))

      s.sql("EXECUTE MIRROR m_test")
      val dest = s.read.parquet(s"$base/dest")
        .filter("NOT _peerdb_is_deleted")
      assert(dest.count() == 1)
      assert(dest.select("id").head().getLong(0) == 2L)
      // the SQL-declared delta view tracked the drain (id=1 deleted)
      def view(): Map[String, Long] =
        new IncrementalAgg(s, s"$base/agg", "id", "v", Seq("id"))
          .read().collect()
          .map(r => r.getString(0) -> r.getLong(2)).toMap
      assert(view() == Map("2" -> 20L))

      // passthrough still works on the extended session
      assert(s.sql("SELECT 1 + 1").head().getInt(0) == 2)

      // RESYNC: append more WAL (not yet executed), resync re-drains the
      // full log and atomically swaps the rebuilt table in
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 4, "4", 4000, 4, "t", "d",
          """{"id":7,"v":70}""", null, Nil)))
      s.sql("RESYNC MIRROR m_test")
      val resynced = s.read.parquet(s"$base/dest")
        .filter("NOT _peerdb_is_deleted")
      assert(resynced.count() == 2) // id=2 (live) + id=7 (post-execute)
      assert(resynced.filter("id = 7").count() == 1)
      // resync reset + rebuilt the view (stale applied-batch watermark
      // would otherwise have skipped every replayed fold)
      assert(view() == Map("2" -> 20L, "7" -> 70L))

      // PAUSE/RESUME signal surface: resume starts the continuous run
      // from the checkpoint (picks up the resync-era append), pause stops
      // intake; a second resume continues loss-free.
      s.sql("RESUME MIRROR m_test")
      // The poll lists the directory while merges run (a merge's new
      // files sit beside the ones they supersede until its cleanup
      // deletes them) — a transient read failure just means "in flux",
      // retry.
      def destCount(): Long =
        try s.read.parquet(s"$base/dest").filter("NOT _peerdb_is_deleted")
          .count()
        catch { case _: org.apache.spark.SparkException => -1L }
      def await(expect: Long): Unit = {
        val deadline = System.currentTimeMillis() + 30000
        while (destCount() != expect &&
          System.currentTimeMillis() < deadline) Thread.sleep(100)
        assert(destCount() == expect)
      }
      await(2L)
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 5, "5", 5000, 5, "t", "d",
          """{"id":8,"v":80}""", null, Nil)))
      await(3L)
      s.sql("PAUSE MIRROR m_test")
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 6, "6", 6000, 6, "t", "d",
          """{"id":9,"v":90}""", null, Nil)))
      Thread.sleep(500)
      assert(destCount() == 3L) // paused: no intake
      s.sql("RESUME MIRROR m_test")
      await(4L) // resumed from checkpoint, nothing lost
      s.sql("PAUSE MIRROR m_test")

      s.sql("DROP MIRROR m_test")
      s.sql("DROP PEER files")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("peer catalog persists across instances (restart survival)") {
    val path = tmpDir("peercat") + "/peers.txt"
    val c1 = new PeerCatalog(Some(path))
    c1.create(Peer("warehouse", "parquet",
      Map("path" -> "/data/x", "weird key" -> "a=b&c\td")))
    c1.create(Peer("queue", "kafka",
      Map("bootstrap.servers" -> "h1:9092,h2:9092")))
    c1.drop("queue")

    val c2 = new PeerCatalog(Some(path)) // fresh instance, reloads file
    assert(c2.list.map(_.name) == Seq("warehouse"))
    val w = c2.get("warehouse")
    assert(w.kind == "parquet")
    assert(w.options == Map("path" -> "/data/x",
      "weird key" -> "a=b&c\td")) // delimiter chars round-trip encoded
  }

  test("QRep with a TIMESTAMP watermark: the {{.start_ts}}/{{.end_ts}} " +
    "template binds micros-exact timestamp bounds into the user SQL " +
    "and sub-second increments resume exactly") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val base = tmpDir("qrepts_sql")
      s.range(0, 100).selectExpr("id AS k",
        "timestamp_micros(CAST(1700000000000000 + id * 250000 " +
          "AS BIGINT)) AS updated_at")
        .write.parquet(s"$base/src/rows.parquet")
      s.sql(s"CREATE PEER tsrc TYPE parquet OPTIONS (dir '$base/src')")
      s.sql(s"CREATE PEER tdst TYPE parquet OPTIONS (dir '$base/dst')")
      s.sql(
        "CREATE MIRROR qts FROM tsrc TO tdst FOR " +
          "$$ SELECT k, updated_at FROM rows WHERE updated_at " +
          "BETWEEN {{.start_ts}} AND {{.end_ts}} $$ " +
          "WITH (watermark_column 'updated_at', source_table 'rows', " +
          s"dest_dir '$base/dest', num_partitions '4')")
      assert(s.sql("EXECUTE MIRROR qts").head().getLong(0) == 100L)
      assert(s.sql("EXECUTE MIRROR qts").head().getLong(0) == 0L)
      // 40 new rows at 250 ms spacing — same-second overlap with the
      // last pulled second; seconds truncation would re-pull or miss
      s.range(100, 140).selectExpr("id AS k",
        "timestamp_micros(CAST(1700000000000000 + id * 250000 " +
          "AS BIGINT)) AS updated_at")
        .write.mode("append").parquet(s"$base/src/rows.parquet")
      assert(s.sql("EXECUTE MIRROR qts").head().getLong(0) == 40L)
      assert(s.read.parquet(s"$base/dest").count() == 140)
      s.sql("DROP MIRROR qts"); s.sql("DROP PEER tsrc")
      s.sql("DROP PEER tdst")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("initial_copy_only QRep: one full load completes the mirror — " +
    "later EXECUTEs are no-ops, RESUME starts no loop, SHOW MIRRORS " +
    "says completed") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      val base = tmpDir("qrep_ico")
      (1L to 50L).map(i => (i, i)).toDF("id", "v")
        .write.parquet(s"$base/src/items.parquet")
      s.sql(s"CREATE PEER icos TYPE parquet OPTIONS (dir '$base/src')")
      s.sql(s"CREATE PEER icod TYPE parquet OPTIONS (dir '$base/dst')")
      s.sql(
        "CREATE MIRROR ico FROM icos TO icod FOR " +
          "$$ SELECT id, v FROM items " +
          "WHERE id BETWEEN {{.start}} AND {{.end}} $$ " +
          "WITH (watermark_column 'id', source_table 'items', " +
          s"dest_dir '$base/dest', initial_copy_only 'true')")
      assert(s.sql("EXECUTE MIRROR ico").head().getLong(0) == 50L)
      // the copy is done: source growth must NOT replicate
      (51L to 60L).map(i => (i, i)).toDF("id", "v")
        .write.mode("append").parquet(s"$base/src/items.parquet")
      assert(s.sql("EXECUTE MIRROR ico").head().getLong(0) == 0L)
      assert(s.read.parquet(s"$base/dest").count() == 50)
      s.sql("RESUME MIRROR ico") // must not start a refresh loop
      val st = s.sql("SHOW MIRRORS").collect()
        .find(_.getString(0) == "ico").get.getString(3)
      assert(st == "completed", s"status was $st")
      // RESYNC re-runs the one copy against CURRENT source state (the
      // dst_table_full_resync semantics): marker + watermark swap in
      // with the fresh dir, so the mirror completes again
      s.sql("RESYNC MIRROR ico")
      assert(s.read.parquet(s"$base/dest").count() == 60)
      assert(s.sql("EXECUTE MIRROR ico").head().getLong(0) == 0L)
      assert(s.sql("SHOW MIRRORS").collect()
        .find(_.getString(0) == "ico").get.getString(3) == "completed")
      s.sql("DROP MIRROR ico")
      s.sql("DROP PEER icos"); s.sql("DROP PEER icod")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("a DEAD stream surfaces as error in SHOW MIRRORS, not " +
    "'paused' (a corrupt WAL segment must be loud)") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val wal = tmpDir("deadwal")
      val base = tmpDir("deadmirror")
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 1, "1", 1000, 1, "t", "d",
          """{"id":1,"v":10}""", null, Nil)))
      s.sql(s"""CREATE MIRROR deadm WITH (
               |  wal_dir '$wal', dest_dir '$base/dest',
               |  checkpoint_dir '$base/ckpt', pk 'id', table 'd',
               |  schema 'id BIGINT, v BIGINT')""".stripMargin)
      s.sql("RESUME MIRROR deadm")
      def status(): String = s.sql("SHOW MIRRORS").collect()
        .find(_.getString(0) == "deadm").get.getString(3)
      def await(cond: => Boolean, what: String): Unit = {
        val deadline = System.currentTimeMillis + 30000
        while (!cond && System.currentTimeMillis < deadline)
          Thread.sleep(100)
        assert(cond, s"$what (status=${status()})")
      }
      await(status() == "running", "stream must start")
      // a torn/corrupt segment: not enough separator-joined fields
      java.nio.file.Files.write(
        java.nio.file.Paths.get(wal, "999999.wal"),
        ("garbage not a wal line" + "\n").getBytes)
      await(status().startsWith("error:"),
        "dead stream must report error")
      // operator repairs the WAL and RESUMEs: the handle replaces the
      // dead query and drains from the checkpoint
      java.nio.file.Files.delete(
        java.nio.file.Paths.get(wal, "999999.wal"))
      s.sql("RESUME MIRROR deadm")
      await(status() == "running", "repaired mirror must resume")
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 2, "2", 2000, 2, "t", "d",
          """{"id":2,"v":20}""", null, Nil)))
      await(try s.read.parquet(s"$base/dest")
        .filter("NOT _peerdb_is_deleted").count() == 2
      catch { case _: Exception => false },
        "post-repair records must land")
      s.sql("PAUSE MIRROR deadm")
      s.sql("DROP MIRROR deadm")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("SQL CREATE PEER is durable when spark.graft.catalog.dir is set") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val dir = tmpDir("sqlcat")
    s.conf.set("spark.graft.catalog.dir", dir)
    try {
      s.sql("CREATE PEER wh TYPE parquet OPTIONS (path '/data/w')")
      // a FRESH catalog instance over the same file sees the peer
      val reloaded = new PeerCatalog(Some(s"$dir/peers.txt"),
        s.sparkContext.hadoopConfiguration)
      assert(reloaded.get("wh").options == Map("path" -> "/data/w"))
      assert(s.sql("SHOW PEERS").collect().map(_.getString(0))
        .contains("wh"))
    } finally s.conf.unset("spark.graft.catalog.dir")
  }

  test("SHOW SETTINGS lists the dynamic-config catalog; conf overrides " +
    "flow into defaults (dynamicconf semantics)") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val rows = s.sql("SHOW SETTINGS").collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getString(2)))
        .toMap
      assert(rows.contains("alerting.gap_minutes"))
      assert(rows("mirror.max_batch_size") == ("250000", "250000"))
      // Spark's own SET is the override channel (dynLookup shape).
      s.sql("SET spark.graft.mirror.max_batch_size=7")
      assert(s.sql("SHOW SETTINGS").collect()
        .find(_.getString(0) == "mirror.max_batch_size").get
        .getString(1) == "7")
      // Typo'd names fail loudly rather than silently defaulting.
      intercept[IllegalArgumentException](
        Settings.get(s, "mirror.max_batchsize"))
      // Settings-wired alerter: gap 0 from conf disables alerting.
      s.conf.set("spark.graft.alerting.gap_minutes", "0")
      val a = Settings.alerter(s, Seq(Alerting.Sender(1)))
      assert(a.alertIfSlotLag("m", "p", "sl", 999999L).isEmpty)
    } finally {
      s.conf.unset("spark.graft.mirror.max_batch_size")
      s.conf.unset("spark.graft.alerting.gap_minutes")
    }
  }

  test("peer-qualified SELECT routes to the peer's storage (§3.2 " +
    "query-router path) with pushdown into the peer scan") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      s.sql("CREATE PEER tpch TYPE parquet OPTIONS " +
        "(path '/root/testdata/sf0.001')")
      // Plain SELECT with the peer-qualified name through spark.sql:
      assert(s.sql("SELECT count(*) AS c FROM tpch.region")
        .head().getLong(0) == 5L)
      // Cross-peer/local join + filter: predicate must reach the scan.
      val df = s.sql("""SELECT n.n_name FROM tpch.nation n
                       |JOIN tpch.region r ON n.n_regionkey = r.r_regionkey
                       |WHERE r.r_name = 'ASIA'""".stripMargin)
      assert(df.collect().length == 5)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("PushedFilters") &&
        plan.contains("EqualTo(r_name,ASIA)"),
        s"filter not pushed into the peer scan:\n$plan")
      // Programmatic entry without extensions behaves identically.
      val df2 = PeerQueryRouter.query(s,
        "SELECT count(*) AS c FROM tpch.lineitem WHERE l_orderkey = 1")
      assert(df2.head().getLong(0) >= 0L)
      // Unknown table under a known peer: analysis fails with the path.
      intercept[Exception](
        s.sql("SELECT * FROM tpch.nope").collect())
      // A peer without a path option is not queryable and says so.
      s.sql("CREATE PEER sfonly TYPE snowflake OPTIONS (account 'x')")
      val e = intercept[Exception](
        s.sql("SELECT * FROM sfonly.t").collect())
      assert(e.getMessage.contains("not locally queryable"))
    } finally {
      Seq("DROP PEER tpch", "DROP PEER sfonly").foreach(d =>
        GraftSql.execute(s, GraftSql.parse(d).get))
    }
  }

  test("transform option: DDL-time parse check, script applied on " +
    "EXECUTE") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val wal = tmpDir("twal")
      val base = tmpDir("tmirror")
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 1, "1", 1000, 1, "t", "d",
          """{"id":1,"name":"alice"}""", null, Nil)))
      // Bad script: the CREATE itself must fail (analyzer-time check).
      intercept[Exception](s.sql(
        s"""CREATE MIRROR tbad WITH (wal_dir '$wal',
           |  dest_dir '$base/bad', checkpoint_dir '$base/badckpt',
           |  pk 'id', table 'd', schema 'id BIGINT, name STRING',
           |  transform 'not a ) valid ( expr')""".stripMargin))
      s.sql(
        s"""CREATE MIRROR tmir WITH (wal_dir '$wal',
           |  dest_dir '$base/dest', checkpoint_dir '$base/ckpt',
           |  pk 'id', table 'd', schema 'id BIGINT, name STRING',
           |  transform 'to_json(named_struct(
           |    ''id'', CAST(get_json_object(data, ''$$.id'') AS BIGINT),
           |    ''name'', upper(get_json_object(data, ''$$.name''))))')"""
          .stripMargin)
      s.sql("EXECUTE MIRROR tmir")
      val rows = s.read.parquet(s"$base/dest").collect()
      assert(rows.length == 1)
      assert(rows.head.getAs[String]("name") == "ALICE")
    } finally {
      GraftSql.execute(s, GraftSql.parse("DROP MIRROR tmir").get)
    }
  }

  test("mirror DDL survives a 'restart' (fresh catalog over the same dir)") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val cat = tmpDir("mircat")
    val wal = tmpDir("mirwal")
    val base = tmpDir("mirdest")
    s.conf.set("spark.graft.catalog.dir", cat)
    try {
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 1, "1", 1000, 1, "t", "d",
          """{"id":1,"v":10}""", null, Nil)))
      s.sql(s"""CREATE MIRROR mdur WITH (wal_dir '$wal',
               |  dest_dir '$base/dest', checkpoint_dir '$base/ckpt',
               |  pk 'id', table 'd',
               |  schema 'id BIGINT, v BIGINT')""".stripMargin)
      // "restart": a fresh catalog instance over the same dir must see
      // the mirror and EXECUTE must run it to completion
      GraftSql.invalidateCatalogCaches()
      assert(s.sql("SHOW MIRRORS").collect().map(_.getString(0))
        .contains("mdur"))
      s.sql("EXECUTE MIRROR mdur")
      assert(s.read.parquet(s"$base/dest").count() == 1)
    } finally s.conf.unset("spark.graft.catalog.dir")
  }

  test("QRep mirror DDL: template binds, increments pull, resync rebuilds") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      val base = tmpDir("qrepsql")
      (1L to 100L).map(i => (i, i * 10)).toDF("id", "v")
        .write.parquet(s"$base/src/items.parquet")

      s.sql(s"CREATE PEER srcp TYPE parquet OPTIONS (dir '$base/src')")
      s.sql(s"CREATE PEER dstp TYPE parquet OPTIONS (dir '$base/dst')")
      // analyzer-time validation: both peers must exist
      intercept[Exception](s.sql(
        "CREATE MIRROR qnope FROM srcp TO missing_peer FOR " +
          "$$ SELECT id, v FROM items " +
          "WHERE id BETWEEN {{.start}} AND {{.end}} $$ " +
          "WITH (watermark_column 'id', source_table 'items', " +
          s"dest_dir '$base/destnope')"))
      // analyzer-time validation: template and required options
      intercept[Exception](s.sql(
        "CREATE MIRROR qbad FROM srcp TO dstp FOR " +
          "$$ SELECT id, v FROM items $$ WITH (watermark_column 'id', " +
          s"source_table 'items', dest_dir '$base/destbad')"))
      s.sql(
        "CREATE MIRROR qm FROM srcp TO dstp FOR " +
          "$$ SELECT id, v FROM items " +
          "WHERE id BETWEEN {{.start}} AND {{.end}} $$ " +
          "WITH (watermark_column 'id', source_table 'items', " +
          s"dest_dir '$base/dest', num_partitions '4', " +
          "refresh_interval_ms '300')")

      // first round pulls everything; the bound query's predicate is the
      // substituted template, not a post-filter
      assert(s.sql("EXECUTE MIRROR qm").head().getLong(0) == 100L)
      assert(s.read.parquet(s"$base/dest").count() == 100)
      // steady state: nothing new ⇒ zero moved, no duplicate append
      assert(s.sql("EXECUTE MIRROR qm").head().getLong(0) == 0L)
      assert(s.read.parquet(s"$base/dest").count() == 100)

      // increment lands in the source; only it is pulled
      (101L to 120L).map(i => (i, i * 10)).toDF("id", "v")
        .write.mode("append").parquet(s"$base/src/items.parquet")
      assert(s.sql("EXECUTE MIRROR qm").head().getLong(0) == 20L)
      assert(s.read.parquet(s"$base/dest").count() == 120)

      val row = s.sql("SHOW MIRRORS").collect()
        .find(_.getString(0) == "qm").get
      assert(row.getString(1) == "qrep:srcp")

      // resync: full rebuild into a fresh dir + atomic swap (watermark
      // travels inside the dir, so post-resync EXECUTE stays incremental)
      s.sql("RESYNC MIRROR qm")
      assert(s.read.parquet(s"$base/dest").count() == 120)
      assert(s.sql("EXECUTE MIRROR qm").head().getLong(0) == 0L)

      // RESYNC WITH (query_string '…') — the analyzer's resync option
      // (analyzer/src/lib.rs:465-490): the rebuild runs under the NEW
      // query, persisted for later rounds. Here the replacement adds
      // a filter, so the resynced destination shrinks.
      s.sql("RESYNC MIRROR qm WITH (query_string " +
        "' SELECT id, v FROM items WHERE id <= 50 " +
        "AND id BETWEEN {{.start}} AND {{.end}} ')")
      assert(s.read.parquet(s"$base/dest").count() == 50,
        "resync must rebuild under the replacement query")
      // the new query PERSISTS: the next round's bound query covers
      // ids 51-120 (above the fresh watermark) but the replacement
      // filter excludes them — 0 moved proves the filter stuck
      assert(s.sql("EXECUTE MIRROR qm").head().getLong(0) == 0L,
        "post-resync rounds keep the replacement query's filter")
      // bad replacement: template missing → loud, mirror unchanged
      val eq = intercept[IllegalArgumentException] {
        s.sql("RESYNC MIRROR qm WITH (query_string " +
          "'SELECT id, v FROM items')")
      }
      assert(eq.getMessage.contains("{{.start}}"), eq.getMessage)
      val eu = intercept[IllegalArgumentException] {
        s.sql("RESYNC MIRROR qm WITH (bogus 'x')")
      }
      assert(eu.getMessage.contains("unknown option"), eu.getMessage)
      // restore the original query the same way (the option is just
      // a durable query swap) — the rebuild brings all 120 back and
      // the continuous-mode section below continues from there
      s.sql("RESYNC MIRROR qm WITH (query_string " +
        "' SELECT id, v FROM items " +
        "WHERE id BETWEEN {{.start}} AND {{.end}} ')")
      assert(s.read.parquet(s"$base/dest").count() == 120)

      // continuous mode: RESUME starts the refresh loop — an increment
      // appears in the dest WITHOUT an EXECUTE; PAUSE stops the loop
      s.sql("RESUME MIRROR qm") // refresh_interval_ms defaults handled
      assert(s.sql("SHOW MIRRORS").collect()
        .find(_.getString(0) == "qm").get.getString(3) == "running")
      (121L to 130L).map(i => (i, i * 10)).toDF("id", "v")
        .write.mode("append").parquet(s"$base/src/items.parquet")
      val deadline = System.currentTimeMillis() + 60000
      while (System.currentTimeMillis() < deadline &&
        s.read.parquet(s"$base/dest").count() < 130) Thread.sleep(250)
      assert(s.read.parquet(s"$base/dest").count() == 130)
      s.sql("PAUSE MIRROR qm")
      assert(s.sql("SHOW MIRRORS").collect()
        .find(_.getString(0) == "qm").get.getString(3) == "idle")
      // loop is gone: a further increment stays unpulled until EXECUTE
      (131L to 132L).map(i => (i, i * 10)).toDF("id", "v")
        .write.mode("append").parquet(s"$base/src/items.parquet")
      Thread.sleep(1500)
      assert(s.read.parquet(s"$base/dest").count() == 130)
      assert(s.sql("EXECUTE MIRROR qm").head().getLong(0) == 2L)

      // a round that throws stops the loop AND surfaces in status —
      // silent death reporting 'running' would hide dead replication
      val srcDir = new java.io.File(s"$base/src/items.parquet")
      val parked = new java.io.File(s"$base/src/items.parked")
      assert(srcDir.renameTo(parked)) // source vanishes → rounds fail
      s.sql("RESUME MIRROR qm")
      val errDeadline = System.currentTimeMillis() + 30000
      def qmStatus(): String = s.sql("SHOW MIRRORS").collect()
        .find(_.getString(0) == "qm").get.getString(3)
      while (System.currentTimeMillis() < errDeadline &&
        !qmStatus().startsWith("error")) Thread.sleep(200)
      assert(qmStatus().startsWith("error"), qmStatus())
      // restore the source: RESUME doubles as retry (dead loop replaced)
      assert(parked.renameTo(srcDir))
      s.sql("RESUME MIRROR qm")
      val okDeadline = System.currentTimeMillis() + 30000
      while (System.currentTimeMillis() < okDeadline &&
        qmStatus() != "running") Thread.sleep(200)
      assert(qmStatus() == "running")
      s.sql("PAUSE MIRROR qm")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("scripts catalog: CRUD, durable restart, mirror by script name") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    val cat = tmpDir("scriptcat")
    s.conf.set("spark.graft.catalog.dir", cat)
    try {
      // lang enum: only 'sql' (the script_lang ('lua') analog); bad
      // source fails the CREATE (DDL-time parse, like the transform opt)
      intercept[Exception](
        s.sql("CREATE SCRIPT s1 LANG lua AS $$ data $$"))
      intercept[Exception](
        s.sql("CREATE SCRIPT s1 AS $$ not a ) valid ( expr $$"))
      s.sql("CREATE SCRIPT s1 AS $$ upper(data) $$")
      // name is UNIQUE (scripts.name): plain re-create fails, OR REPLACE
      // updates — PostScript's insert-vs-update split
      intercept[Exception](s.sql("CREATE SCRIPT s1 AS $$ data $$"))
      s.sql("""CREATE OR REPLACE SCRIPT s1 AS $$ to_json(named_struct(
              |  'id', CAST(get_json_object(data, '$.id') AS BIGINT),
              |  'name', upper(get_json_object(data, '$.name')))) $$"""
        .stripMargin)
      val listed = s.sql("SHOW SCRIPTS").collect()
      assert(listed.map(_.getString(0)).toSeq == Seq("s1"))
      assert(listed.head.getString(1) == "sql")
      assert(listed.head.getString(2).contains("upper"))

      // a mirror referencing a MISSING script fails at CREATE
      val wal = tmpDir("swal")
      val base = tmpDir("smirror")
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 1, "1", 1000, 1, "t", "d",
          """{"id":1,"name":"bob"}""", null, Nil)))
      intercept[Exception](s.sql(
        s"""CREATE MIRROR smbad WITH (wal_dir '$wal',
           |  dest_dir '$base/bad', checkpoint_dir '$base/badckpt',
           |  pk 'id', table 'd', schema 'id BIGINT, name STRING',
           |  script 'nosuch')""".stripMargin))

      // "restart": a fresh catalog over the same dir still has the
      // script, and the mirror transform resolves through it
      GraftSql.invalidateCatalogCaches()
      s.sql(
        s"""CREATE MIRROR smir WITH (wal_dir '$wal',
           |  dest_dir '$base/dest', checkpoint_dir '$base/ckpt',
           |  pk 'id', table 'd', schema 'id BIGINT, name STRING',
           |  script 's1')""".stripMargin)
      s.sql("EXECUTE MIRROR smir")
      val rows = s.read.parquet(s"$base/dest").collect()
      assert(rows.length == 1 &&
        rows.head.getAs[String]("name") == "BOB")

      s.sql("DROP SCRIPT s1")
      assert(s.sql("SHOW SCRIPTS").collect().isEmpty)
      s.sql("DROP MIRROR smir")
    } finally {
      s.conf.unset("spark.graft.catalog.dir")
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("VALIDATE PEER probes storage reachability without throwing") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val good = tmpDir("vpeer")
      spark.range(3).toDF("id").write.mode("overwrite")
        .parquet(s"$good/t.parquet")
      s.sql(s"CREATE PEER vgood TYPE parquet OPTIONS (path '$good/t.parquet')")
      s.sql("CREATE PEER vmissing TYPE parquet OPTIONS (path '/no/such/dir')")
      s.sql("CREATE PEER vnopath TYPE parquet OPTIONS (compression 'zstd')")

      def validate(n: String) = s.sql(s"VALIDATE PEER $n").collect().head
      val ok = validate("vgood")
      assert(ok.getString(1) == "valid" && ok.getString(2).contains("1 column"))
      assert(validate("vmissing").getString(1) == "invalid")
      assert(validate("vnopath").getString(1) == "invalid")
      // unknown peer: invalid + message, not an exception
      assert(validate("vnever").getString(1) == "invalid")
      Seq("vgood", "vmissing", "vnopath").foreach(p =>
        s.sql(s"DROP PEER $p"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("SHOW STATS FOR MIRROR registers the peerdb_stats views") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val wal = tmpDir("stwal")
      val base = tmpDir("stmirror")
      ChangeLogWal.append(wal, (1L to 5L).map(i =>
        ChangeRecord(0, i, i.toString, i * 1000, 1, "t", "d",
          s"""{"id":$i,"v":$i}""", null, Nil)))
      // a mirror WITHOUT stats: SHOW STATS errors with guidance
      s.sql(s"""CREATE MIRROR stm WITH (wal_dir '$wal',
               |  dest_dir '$base/dest', checkpoint_dir '$base/ckpt',
               |  pk 'id', table 'd', schema 'id BIGINT, v BIGINT',
               |  stats '$base/stats')""".stripMargin)
      s.sql("EXECUTE MIRROR stm")
      val views = s.sql("SHOW STATS FOR MIRROR stm").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(views("stats_cdc_flows") == 1L)
      assert(views("stats_cdc_batches") >= 1L)
      // and the views are queryable SQL surfaces
      assert(s.sql(
        "SELECT sum(rows_in_batch) FROM stats_cdc_batches").collect()
        .head.getLong(0) == 5L)
      assert(s.sql("SELECT inserts_count FROM " +
        "stats_cdc_table_aggregate_counts").collect()
        .head.getLong(0) == 5L)
      s.sql("DROP MIRROR stm")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("do_initial_snapshot: load at WAL head, stream strictly after, " +
    "marker makes re-EXECUTE skip, resync re-snapshots") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      val wal = tmpDir("snapwal")
      val base = tmpDir("snapmirror")
      // Source table the snapshot reads (stand-in for the PG export);
      // column x is excluded, so it must not reach the destination.
      (1L to 4L).map(i => (i, i * 10, i * 7)).toDF("id", "v", "x")
        .write.parquet(s"$base/src")
      // WAL change BEFORE the snapshot point: already reflected in the
      // source state above, must NOT re-apply (v stays 10, not 999).
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(1, 2, "2", 2000, 1, "t", "d",
          """{"id":1,"v":999}""", null, Nil)))

      s.sql(s"""CREATE MIRROR snap_m WITH (
               |  wal_dir '$wal', dest_dir '$base/dest',
               |  checkpoint_dir '$base/ckpt', pk 'id', table 'd',
               |  schema 'id BIGINT, v BIGINT, x BIGINT', exclude 'x',
               |  do_initial_snapshot 'true',
               |  snapshot_source '$base/src',
               |  snapshot_num_rows_per_partition '2')""".stripMargin)
      s.sql("EXECUTE MIRROR snap_m")
      val dest = s.read.parquet(s"$base/dest")
        .filter("NOT _peerdb_is_deleted")
      assert(dest.count() == 4)
      assert(!dest.columns.contains("x")) // exclusion covers the snapshot
      assert(dest.filter("id = 1").select("v").head().getLong(0) == 10L)

      // Changes past the snapshot point apply; the marker stops a second
      // snapshot load (id=1 would otherwise reset to 10).
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(1, 5, "5", 5000, 2, "t", "d",
          """{"id":1,"v":111}""", null, Nil),
        ChangeRecord(0, 6, "6", 6000, 3, "t", "d",
          """{"id":9,"v":90}""", null, Nil)))
      s.sql("EXECUTE MIRROR snap_m")
      val d2 = s.read.parquet(s"$base/dest").filter("NOT _peerdb_is_deleted")
      assert(d2.count() == 5)
      assert(d2.filter("id = 1").select("v").head().getLong(0) == 111L)

      // RESYNC re-snapshots from the CURRENT source state (a live source
      // already reflects every applied change — simulate by rewriting the
      // export) and hands the stream off at the rebuilt WAL head.
      Seq((1L, 111L, 7L), (2L, 20L, 14L), (3L, 30L, 21L), (4L, 40L, 28L),
        (9L, 90L, 63L)).toDF("id", "v", "x")
        .write.mode("overwrite").parquet(s"$base/src")
      s.sql("RESYNC MIRROR snap_m")
      val d3 = s.read.parquet(s"$base/dest").filter("NOT _peerdb_is_deleted")
      assert(d3.count() == 5)
      assert(d3.filter("id = 1").select("v").head().getLong(0) == 111L)
      assert(d3.filter("id = 9").count() == 1)
      s.sql("DROP MIRROR snap_m")

      // initial_snapshot_only: one-shot load, rows reported, no stream.
      s.sql(s"""CREATE MIRROR snap_only WITH (
               |  wal_dir '$wal', dest_dir '$base/dest2',
               |  checkpoint_dir '$base/ckpt2', pk 'id', table 'd',
               |  schema 'id BIGINT, v BIGINT, x BIGINT', exclude 'x',
               |  initial_snapshot_only 'true',
               |  snapshot_source '$base/src')""".stripMargin)
      assert(s.sql("EXECUTE MIRROR snap_only").head().getLong(0) == 5L)
      assert(s.read.parquet(s"$base/dest2")
        .filter("NOT _peerdb_is_deleted").count() == 5)
      val ex = intercept[Exception](s.sql("RESUME MIRROR snap_only"))
      assert(ex.getMessage.contains("initial_snapshot_only"))
      s.sql("DROP MIRROR snap_only")

      // Snapshot without a source fails at DDL time, not first EXECUTE.
      val noSrc = intercept[Exception](s.sql(
        s"""CREATE MIRROR snap_bad WITH (wal_dir '$wal',
           |  dest_dir '$base/d3', checkpoint_dir '$base/c3', pk 'id',
           |  table 'd', schema 'id BIGINT',
           |  do_initial_snapshot 'true')""".stripMargin))
      assert(noSrc.getMessage.contains("snapshot_source"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("introspection + validation statements: SHOW TABLES IN PEER, " +
    "DESCRIBE PEER, VALIDATE MIRROR, flow tags") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      import s.implicits._
      val base = tmpDir("intro")
      Seq((1L, "a"), (2L, "b")).toDF("id", "name")
        .write.parquet(s"$base/store/users.parquet")
      Seq((1L, 5L)).toDF("id", "v")
        .write.parquet(s"$base/store/scores.parquet")

      s.sql(s"CREATE PEER store TYPE parquet OPTIONS (dir '$base/store')")
      // GetAllTables: the storage tables under the peer's dir
      assert(s.sql("SHOW TABLES IN PEER store").collect()
        .map(_.getString(0)).toSeq == Seq("scores", "users"))
      // GetColumns: parquet schema as (column, type, nullable)
      val cols = s.sql("DESCRIBE PEER store.users").collect()
        .map(r => (r.getString(0), r.getString(1))).toMap
      assert(cols == Map("id" -> "BIGINT", "name" -> "STRING"))

      // VALIDATE MIRROR: per-check rows, never throws
      val wal = tmpDir("valwal")
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 1, "1", 1000, 1, "t", "d",
          """{"id":1,"v":10}""", null, Nil)))
      s.sql(s"""CREATE MIRROR val_m WITH (wal_dir '$wal',
               |  dest_dir '$base/dest', checkpoint_dir '$base/ckpt',
               |  pk 'id', table 'd', schema 'id BIGINT, v BIGINT')"""
        .stripMargin)
      val v1 = s.sql("VALIDATE MIRROR val_m").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(v1 == Map("config" -> "valid", "pk_in_schema" -> "valid",
        "wal_dir" -> "valid", "destination_compat" -> "valid"))
      // a mirror whose pk is not in the schema reports the failing check
      s.sql(s"""CREATE MIRROR val_bad WITH (wal_dir '$base/no_wal',
               |  dest_dir '$base/dest2', checkpoint_dir '$base/ckpt2',
               |  pk 'nope', table 'd', schema 'id BIGINT')""".stripMargin)
      val v2 = s.sql("VALIDATE MIRROR val_bad").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(v2("pk_in_schema") == "invalid")
      assert(v2("wal_dir") == "invalid")
      assert(s.sql("VALIDATE MIRROR no_such_mirror").collect()
        .head.getString(1) == "invalid") // never throws
      // snapshot source coverage: a source missing a schema column fails
      s.sql(s"""CREATE MIRROR val_snap WITH (wal_dir '$wal',
               |  dest_dir '$base/dest3', checkpoint_dir '$base/ckpt3',
               |  pk 'id', table 'd', schema 'id BIGINT, missing BIGINT',
               |  do_initial_snapshot 'true',
               |  snapshot_source '$base/store/users.parquet')"""
        .stripMargin)
      val v3 = s.sql("VALIDATE MIRROR val_snap").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      assert(v3("snapshot_source") == "invalid")

      // Flow tags: replace-all + introspection
      s.sql("ALTER MIRROR val_m SET TAGS (team 'data', env 'prod')")
      assert(s.sql("SHOW TAGS FOR MIRROR val_m").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap ==
        Map("team" -> "data", "env" -> "prod"))
      s.sql("ALTER MIRROR val_m SET TAGS (owner 'ops')")
      assert(s.sql("SHOW TAGS FOR MIRROR val_m").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap ==
        Map("owner" -> "ops")) // replace-all, not merge

      s.sql("DROP MIRROR val_m"); s.sql("DROP MIRROR val_bad")
      s.sql("DROP MIRROR val_snap"); s.sql("DROP PEER store")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("prepared statements: PREPARE caches, EXECUTE substitutes $n " +
    "literally and re-parses, DEALLOCATE releases") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      s.sql("PREPARE padd AS SELECT $1 + $2 AS total")
      assert(s.sql("EXECUTE padd (40, 2)").head().getInt(0) == 42)
      // string params carry their quotes (literal text substitution);
      // repeated and double-digit params substitute correctly
      s.sql("PREPARE pcat AS SELECT concat($1, $1, $2) AS c")
      assert(s.sql("EXECUTE pcat ('ab', 'c,d')").head().getString(0)
        == "ababc,d")
      // PREPARE overwrites (portal-store replace semantics)
      s.sql("PREPARE padd AS SELECT $1 * 2 AS total")
      assert(s.sql("EXECUTE padd (21)").head().getInt(0) == 42)
      // a prepared body can be a graft statement (re-parse goes through
      // the full path, like the proxy's handle_query)
      s.sql("PREPARE mk AS CREATE PEER $1 TYPE parquet OPTIONS (x 'y')")
      s.sql("EXECUTE mk (prep_peer)")
      assert(s.sql("SHOW PEERS").collect().map(_.getString(0))
        .contains("prep_peer"))
      s.sql("DROP PEER prep_peer")
      s.sql("DEALLOCATE padd")
      // after DEALLOCATE the name no longer resolves as prepared
      intercept[Exception](s.sql("EXECUTE padd (1)").collect())
      // Spark's own EXECUTE IMMEDIATE still passes through untouched
      assert(s.sql("EXECUTE IMMEDIATE 'SELECT 7'").head().getInt(0) == 7)
      s.sql("DEALLOCATE pcat"); s.sql("DEALLOCATE mk")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("cursor/prepare edge cases: FETCH 0 is empty and non-advancing, " +
    "CLOSE ALL drops every cursor, DEALLOCATE variants") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      s.sql("DECLARE ca CURSOR FOR SELECT id FROM range(5) ORDER BY id")
      s.sql("DECLARE cb CURSOR FOR SELECT id FROM range(3) ORDER BY id")
      // FETCH 0: empty result, NOT an error, and the position does not
      // move (manager.rs:47-75 — the fetch loop admits < count rows)
      assert(s.sql("FETCH 0 FROM ca").collect().isEmpty)
      assert(s.sql("FETCH 2 FROM ca").collect()
        .map(_.getLong(0)).toSeq == Seq(0L, 1L))
      // CLOSE ALL is the bulk form (never a cursor named "all"): every
      // open cursor drops and the closed names report back
      val closed = s.sql("CLOSE ALL").collect().map(_.getString(0)).toSeq
      assert(closed == Seq("ca", "cb"))
      intercept[Exception](s.sql("FETCH 1 FROM ca"))
      // idempotent on an empty store — zero closed, no error
      assert(s.sql("CLOSE ALL").collect().isEmpty)
      // DEALLOCATE PREPARE long form; unknown names error (PG parity)
      s.sql("PREPARE pe AS SELECT $1 AS v")
      s.sql("DEALLOCATE PREPARE pe")
      intercept[Exception](s.sql("DEALLOCATE pe").collect())
      intercept[Exception](s.sql("DEALLOCATE never_prepared").collect())
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("maintenance mode refuses state changes but keeps introspection") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val wal = tmpDir("mntwal")
      val base = tmpDir("mntmirror")
      ChangeLogWal.append(wal, Seq(
        ChangeRecord(0, 1, "1", 1000, 1, "t", "d",
          """{"id":1,"v":10}""", null, Nil)))
      s.sql(s"""CREATE MIRROR mnt_m WITH (wal_dir '$wal',
               |  dest_dir '$base/dest', checkpoint_dir '$base/ckpt',
               |  pk 'id', table 'd', schema 'id BIGINT, v BIGINT')"""
        .stripMargin)
      s.sql("SET spark.graft.maintenance.mode = true")
      val ex = intercept[Exception](s.sql("EXECUTE MIRROR mnt_m"))
      assert(ex.getMessage.contains("maintenance"))
      intercept[Exception](s.sql("DROP MIRROR mnt_m"))
      // introspection still works under maintenance
      assert(s.sql("SHOW MIRRORS").collect().nonEmpty)
      assert(s.sql("VALIDATE MIRROR mnt_m").collect().nonEmpty)
      s.sql("SET spark.graft.maintenance.mode = false")
      s.sql("EXECUTE MIRROR mnt_m") // re-enabled
      assert(s.read.parquet(s"$base/dest").count() == 1)
      s.sql("DROP MIRROR mnt_m")
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("per-mirror env overrides resolve env-first (dynLookup order) " +
    "and validate at DDL time") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val wal = tmpDir("envwal")
      val base = tmpDir("envmirror")
      ChangeLogWal.append(wal, (1L to 3L).map(i =>
        ChangeRecord(0, i, i.toString, i * 1000, i, "t", "d",
          s"""{"id":$i,"v":$i}""", null, Nil)))
      // env overrides the deployment default max batch size (250k) for
      // THIS mirror only: 3 records drain as ceil(3/2) = 2 micro-batches.
      s.sql(s"""CREATE MIRROR env_m WITH (
               |  wal_dir '$wal', dest_dir '$base/dest',
               |  checkpoint_dir '$base/ckpt', pk 'id', table 'd',
               |  schema 'id BIGINT, v BIGINT',
               |  env 'mirror.max_batch_size=2')""".stripMargin)
      s.sql("EXECUTE MIRROR env_m")
      val rawBatches = s.read.parquet(s"$base/dest_raw")
        .select("_peerdb_batch_id").distinct().count()
      assert(rawBatches == 2L)
      s.sql("DROP MIRROR env_m")

      // Unknown setting name and non-numeric value fail the CREATE.
      val badName = intercept[Exception](s.sql(
        s"""CREATE MIRROR env_bad WITH (wal_dir '$wal',
           |  dest_dir '$base/d2', checkpoint_dir '$base/c2', pk 'id',
           |  table 'd', schema 'id BIGINT',
           |  env 'no.such.setting=1')""".stripMargin))
      assert(badName.getMessage.contains("unknown setting"))
      val badVal = intercept[Exception](s.sql(
        s"""CREATE MIRROR env_bad2 WITH (wal_dir '$wal',
           |  dest_dir '$base/d2', checkpoint_dir '$base/c2', pk 'id',
           |  table 'd', schema 'id BIGINT',
           |  env 'mirror.max_batch_size=lots')""".stripMargin))
      assert(badVal.getMessage.contains("must be uint"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("operator registry through the facade: SHOW OPERATORS lists the " +
    "declared surface, RUN OPERATOR executes with the operator's schema") {
    import GraftSql._
    assert(parse("SHOW OPERATORS") == Some(ShowOperators))
    assert(parse("RUN OPERATOR q_dedup_exact USING '/d' LIMIT 5") ==
      Some(RunOperator("q_dedup_exact", "/d", 5)))
    assert(parse("run operator q_x using '/d'") == // default bound
      Some(RunOperator("q_x", "/d", 100)))

    val listed = GraftSql.execute(spark, ShowOperators)
    assert(listed.size >= 160, s"got ${listed.size}")
    val byName = listed.map(r => r.getString(0) -> r.getString(2)).toMap
    assert(byName("q_dedup_exact") == "sql")
    assert(listed.forall(_.getString(1).nonEmpty)) // every op documented

    SparkSession.setActiveSession(spark)
    val dir = "/root/testdata/sf0.001"
    val stmt = RunOperator("q_dedup_exact", dir, 5)
    // schema comes from the operator's own plan
    val attrs = outputAttributes(stmt).map(_.name)
    assert(attrs == Seq("h", "keep_id", "copies"), attrs)
    val rows = GraftSql.execute(spark, stmt)
    assert(rows.size == 5)
    assert(rows.forall(_.getLong(2) >= 1L))

    val err = intercept[IllegalArgumentException] {
      GraftSql.execute(spark, RunOperator("q_nope", dir, 1))
    }
    assert(err.getMessage.contains("SHOW OPERATORS"))
  }

  test("RUN OPERATOR end-to-end through spark.sql (parser + command + " +
    "schema memo)") {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val rows = s.sql("RUN OPERATOR q_dedup_exact USING " +
        "'/root/testdata/sf0.001' LIMIT 3").collect()
      assert(rows.length == 3)
      assert(rows.forall(_.schema.fieldNames.toSeq ==
        Seq("h", "keep_id", "copies")))
      val ops = s.sql("SHOW OPERATORS").collect()
      assert(ops.map(_.getString(0)).contains("q_curation_pipeline"))
    } finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(spark)
      SparkSession.setActiveSession(spark)
    }
  }

  test("IF EXISTS: a missing peer/mirror errors without it and " +
    "no-ops with it, on every drop/signal arm (the reference's " +
    "NO SUCH PEER / NO SUCH MIRROR success path, main.rs:459-558)") {
    import GraftSql.{DropMirror, DropPeer, PauseMirror, ResumeMirror,
      ResyncMirror}
    val s = spark
    def exec(st: GraftSql.Statement) = GraftSql.execute(s, st)
    intercept[NoSuchElementException](exec(DropPeer("gsqx")))
    assert(exec(DropPeer("gsqx", ifExists = true)).isEmpty)
    intercept[NoSuchElementException](exec(DropMirror("gsqx")))
    assert(exec(DropMirror("gsqx", ifExists = true)).isEmpty)
    intercept[NoSuchElementException](exec(PauseMirror("gsqx")))
    assert(exec(PauseMirror("gsqx", ifExists = true)).isEmpty)
    intercept[NoSuchElementException](exec(ResumeMirror("gsqx")))
    assert(exec(ResumeMirror("gsqx", ifExists = true)).isEmpty)
    intercept[NoSuchElementException](exec(ResyncMirror("gsqx")))
    assert(exec(ResyncMirror("gsqx", ifExists = true)).isEmpty)
    // IF NOT EXISTS: duplicate create errors without it, no-ops with
    // it (MIRROR ALREADY EXISTS success, main.rs:169-183) — and the
    // no-op does NOT overwrite the existing definition
    import GraftSql.{CreatePeer, CreateMirror}
    exec(CreatePeer("gsqp", "parquet", Map("path" -> "/a")))
    try {
      intercept[IllegalArgumentException](
        exec(CreatePeer("gsqp", "parquet", Map("path" -> "/b"))))
      assert(exec(CreatePeer("gsqp", "parquet", Map("path" -> "/b"),
        ifNotExists = true)).isEmpty)
      assert(GraftSql.peersFor(s).get("gsqp").options("path") == "/a")
    } finally exec(DropPeer("gsqp"))
    val walDir = tmpDir("inewal")
    exec(CreateMirror("gsqm", Map("wal_dir" -> walDir,
      "dest_dir" -> s"$walDir/d", "checkpoint_dir" -> s"$walDir/c",
      "pk" -> "id", "schema" -> "id BIGINT")))
    try {
      intercept[Exception](exec(CreateMirror("gsqm",
        Map("pk" -> "id"))))
      assert(exec(CreateMirror("gsqm", Map("pk" -> "id"),
        ifNotExists = true)).isEmpty)
    } finally exec(DropMirror("gsqm"))
  }

  test("peer/mirror names fold to lowercase at parse (the analyzer's " +
    "to_lowercase on every name arm, lib.rs:376-529): mixed-case DDL " +
    "and relation heads resolve one object") {
    import GraftSql._
    assert(parse("CREATE PEER MyPeer TYPE parquet OPTIONS (path '/x')")
      == Some(CreatePeer("mypeer", "parquet", Map("path" -> "/x"))))
    assert(parse("DROP MIRROR MyMirror") == Some(DropMirror("mymirror")))
    assert(parse("PAUSE MIRROR IF EXISTS UpperCase") ==
      Some(PauseMirror("uppercase", ifExists = true)))
    val s = spark
    GraftSql.execute(s, parse("CREATE PEER CasEpeer TYPE parquet " +
      "OPTIONS (path '/root/testdata/sf0.001')").get)
    try {
      assert(GraftSql.peersFor(s).list.exists(_.name == "casepeer"))
      // mixed-case relation head folds to the stored name
      assert(PeerQueryRouter.query(s,
        "SELECT count(*) AS c FROM CaSePeEr.region")
        .head().getLong(0) == 5L)
    } finally GraftSql.execute(s, parse("DROP PEER CASEPEER").get)
  }

  test("CREATE PEER validates live peers by default (an unreachable " +
    "endpoint fails the CREATE with the probe's message, " +
    "handler.go:593-609); disable_validation is the escape hatch; " +
    "DROP PEER refuses while a mirror references the peer " +
    "(handler.go:618-646)") {
    import GraftSql.{CreatePeer, DropPeer}
    val s = spark
    def exec(st: GraftSql.Statement) = GraftSql.execute(s, st)
    def run(sql: String) = GraftSql.execute(s,
      GraftSql.parse(sql).getOrElse(fail(s"did not parse: $sql")))
    val dead = Map("url" ->
      "pg://postgres@127.0.0.1:1/postgres?connect_timeout_ms=300")
    val e = intercept[IllegalArgumentException](
      exec(CreatePeer("gsqv", "postgres", dead)))
    assert(e.getMessage.startsWith("failed to create peer"),
      e.getMessage)
    assert(GraftSql.peersFor(s).list.forall(_.name != "gsqv"))
    exec(CreatePeer("gsqv", "postgres",
      dead + ("disable_validation" -> "true")))
    exec(DropPeer("gsqv"))
    // in-mirror guard: the qrep entry references its peers by name
    val base = tmpDir("gsqguard")
    s.range(1, 4).selectExpr("id AS k", "id AS v")
      .write.parquet(s"$base/src/rows.parquet")
    run(s"CREATE PEER gsqgs TYPE parquet OPTIONS (dir '$base/src')")
    run(s"CREATE PEER gsqgd TYPE parquet OPTIONS (dir '$base/dst')")
    run("CREATE MIRROR gsqgm FROM gsqgs TO gsqgd FOR " +
      "$$ SELECT k, v FROM rows WHERE k BETWEEN {{.start}} AND " +
      "{{.end}} $$ WITH (watermark_column 'k', " +
      s"source_table 'rows', dest_dir '$base/dest')")
    try {
      val g = intercept[IllegalStateException](exec(DropPeer("gsqgs")))
      assert(g.getMessage.contains("involved in an ongoing mirror"),
        g.getMessage)
      intercept[IllegalStateException](exec(DropPeer("gsqgd")))
    } finally run("DROP MIRROR gsqgm")
    exec(DropPeer("gsqgs"))
    exec(DropPeer("gsqgd"))
  }
}
