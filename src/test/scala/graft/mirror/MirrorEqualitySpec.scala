package graft.mirror

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{ChangeLogWal, MergeWriter}
import graft.model.ChangeRecord

/** The reference's primary oracle restated (EnvWaitForEqualTablesWithNames,
  * flow/e2e/test_utils.go:177-205): replay a change log through the full
  * mirror pipeline (stream source → raw sync → normalize → merge) and
  * require the destination to equal the source-of-truth row set — across
  * multiple runs, restarts and out-of-order key updates. */
class MirrorEqualitySpec extends SparkSpec {

  private val payloadSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", LongType)))

  private def rec(cp: Long, tx: Long, rt: Int, data: String,
      matchData: String = null, toast: Seq[String] = Nil): ChangeRecord =
    ChangeRecord(rt, cp, cp.toString, cp * 1000, tx, "public.t", "dest.t",
      data, matchData, toast)

  test("mirror equality across two runs with inserts/updates/deletes") {
    // Both delete policies: soft keeps tombstones in the stored table
    // (filtered on read), hard removes the keys at the merge. Either way
    // the incremental chain and the one-shot recompute must agree.
    twoRunEquality(softDelete = true)
    twoRunEquality(softDelete = false)
  }

  private def twoRunEquality(softDelete: Boolean): Unit = {
    val wal = tmpDir("wal")
    val base = tmpDir("mirror")
    val cfg = MirrorConfig(
      walDir = wal, rawDir = s"$base/raw", destDir = s"$base/dest",
      checkpointDir = s"$base/ckpt", pkColumns = Seq("id"),
      payloadSchema = payloadSchema, destinationTable = "dest.t",
      maxBatchSize = 4, softDelete = softDelete)

    // Run 1: 100 keys inserted, some updated, some deleted, one TOAST
    // update, in several transactions.
    val inserts = (1L to 100L).map(i =>
      rec(i, 1 + i / 10, ChangeRecord.TypeInsert,
        s"""{"id":$i,"name":"n$i","v":${i * 10}}"""))
    val updates = (1L to 30L).map(i =>
      rec(100 + i, 20 + i / 5, ChangeRecord.TypeUpdate,
        s"""{"id":$i,"name":"u$i","v":${i * 100}}""", s"""{"id":$i}"""))
    val toastUpd = Seq(rec(131, 40, ChangeRecord.TypeUpdate,
      """{"id":40,"v":4444}""", """{"id":40}""", Seq("name")))
    val deletes = (61L to 70L).map(i =>
      rec(131 + i - 60, 41, ChangeRecord.TypeDelete, null, s"""{"id":$i}"""))
    ChangeLogWal.append(wal, inserts ++ updates ++ toastUpd ++ deletes)

    val runner = new MirrorRunner(spark, cfg)
    runner.runAvailableNow()

    def expectRow(id: Long, name: String, v: Long): Unit = {
      val rows = runner.destination()
        .filter(org.apache.spark.sql.functions.col("id") === id).collect()
      assert(rows.length == 1, s"id=$id")
      assert(rows.head.getAs[String]("name") == name, s"id=$id name")
      assert(rows.head.getAs[Long]("v") == v, s"id=$id v")
    }

    assert(runner.destination().count() == 90, // 100 − 10 deleted
      s"softDelete = $softDelete")
    expectRow(5L, "u5", 500L)     // updated
    expectRow(40L, "n40", 4444L)  // TOAST: name kept, v updated
    expectRow(95L, "n95", 950L)   // untouched insert
    assert(runner.destination()
      .filter(org.apache.spark.sql.functions.col("id") === 65L).isEmpty)

    // Run 2 (restart from checkpoint): more changes incl. delete-then-
    // reinsert and an update of a previously deleted key's neighbor.
    ChangeLogWal.append(wal, Seq(
      rec(200, 50, ChangeRecord.TypeDelete, null, """{"id":1}"""),
      rec(201, 51, ChangeRecord.TypeInsert,
        """{"id":1,"name":"reborn","v":1}"""),
      rec(202, 52, ChangeRecord.TypeUpdate,
        """{"id":62,"name":"back","v":62}""", null)))
    new MirrorRunner(spark, cfg).runAvailableNow()

    assert(runner.destination().count() == 91)
    expectRow(1L, "reborn", 1L)
    expectRow(62L, "back", 62L)

    // Raw staging table holds every change exactly once.
    val raw = spark.read.parquet(s"$base/raw")
    assert(raw.count() == (inserts ++ updates ++ toastUpd ++ deletes).size + 3)

    // THE CDC invariant: the incremental merge chain equals a one-shot
    // re-normalize of the full raw history (destinationAsOf at the max
    // batch id) — including TOAST backfill and delete/reinsert cycles.
    val maxBatch = raw.agg(org.apache.spark.sql.functions
      .max(graft.model.RawTable.BatchId)).head()
      .getAs[Number](0).longValue() // partition col reads back as int
    def keyed(df: org.apache.spark.sql.DataFrame) = df
      .select("id", "name", "v").collect()
      .map(r => r.getAs[Long]("id") ->
        ((r.getAs[String]("name"), r.getAs[Long]("v")))).toMap
    val asOf = keyed(runner.destinationAsOf(maxBatch))
    assert(asOf == keyed(runner.destination()), s"softDelete = $softDelete")
    // still-deleted keys (62 came back in run 2) are in neither
    assert(asOf.keySet.intersect((61L to 70L).toSet - 62L).isEmpty)
  }

  test("multi-table mirror fans out by destination table") {
    val wal = tmpDir("walmulti")
    val base = tmpDir("mirrormulti")
    val ordersSchema = StructType(Seq(
      StructField("oid", LongType), StructField("amt", LongType)))
    val cfg = MirrorConfig(
      walDir = wal, rawDir = s"$base/raw", destDir = s"$base/dest",
      checkpointDir = s"$base/ckpt", pkColumns = Seq("id"),
      payloadSchema = payloadSchema, destinationTable = "dest.t",
      extraTables = Map("dest.orders" -> TableConfig(Seq("oid"),
        ordersSchema)))

    def rec2(cp: Long, rt: Int, table: String, data: String,
        m: String = null): ChangeRecord =
      ChangeRecord(rt, cp, cp.toString, cp * 1000, cp, "src", table,
        data, m, Nil)
    ChangeLogWal.append(wal, Seq(
      rec2(1, 0, "dest.t", """{"id":1,"name":"a","v":1}"""),
      rec2(2, 0, "dest.orders", """{"oid":100,"amt":5}"""),
      rec2(3, 0, "dest.orders", """{"oid":101,"amt":6}"""),
      rec2(4, 1, "dest.orders", """{"oid":100,"amt":50}""",
        """{"oid":100}"""),
      rec2(5, 0, "dest.ignored", """{"x":1}"""), // not in the table set
      rec2(6, 2, "dest.t", null, """{"id":1}""")))

    val runner = new MirrorRunner(spark, cfg)
    runner.runAvailableNow()

    assert(runner.destination("dest.t").count() == 0) // deleted
    val orders = runner.destination("dest.orders").collect()
      .map(r => r.getAs[Long]("oid") -> r.getAs[Long]("amt")).toMap
    assert(orders == Map(100L -> 50L, 101L -> 6L))
  }

  test("table addition mid-stream: catch up history, continue extended") {
    val wal = tmpDir("waladd")
    val base = tmpDir("mirroradd")
    val t2Schema = StructType(Seq(
      StructField("oid", LongType), StructField("amt", LongType)))
    val cfg = MirrorConfig(wal, s"$base/raw", s"$base/dest",
      s"$base/ckpt", Seq("id"), payloadSchema,
      destinationTable = "t1")
    def rec2(cp: Long, rt: Int, tbl: String, d: String, m: String = null) =
      ChangeRecord(rt, cp, cp.toString, cp * 1000, cp, "s", tbl, d, m, Nil)

    // Phase 1: mirror knows only t1; t2 records flow past, ignored.
    ChangeLogWal.append(wal, Seq(
      rec2(1, 0, "t1", """{"id":1,"name":"a","v":1}"""),
      rec2(2, 0, "t2", """{"oid":7,"amt":70}"""),
      rec2(3, 1, "t2", """{"oid":7,"amt":77}""", """{"oid":7}""")))
    new MirrorRunner(spark, cfg).runAvailableNow()

    // Phase 2: add t2 — catch up its history, then continue extended.
    val t2 = TableConfig(Seq("oid"), t2Schema)
    new MirrorRunner(spark, cfg).catchUpTable("t2", t2)
    val extended = cfg.copy(extraTables = Map("t2" -> t2))
    ChangeLogWal.append(wal, Seq(
      rec2(4, 0, "t2", """{"oid":8,"amt":80}"""),
      rec2(5, 1, "t1", """{"id":1,"name":"a2","v":2}""", """{"id":1}""")))
    val runner = new MirrorRunner(spark, extended)
    runner.runAvailableNow()

    val t2rows = runner.destination("t2").collect()
      .map(r => r.getAs[Long]("oid") -> r.getAs[Long]("amt")).toMap
    assert(t2rows == Map(7L -> 77L, 8L -> 80L)) // history + live
    assert(runner.destination("t1").collect()
      .map(_.getAs[String]("name")).toSeq == Seq("a2"))
  }

  test("table removal mid-stream: parked by default, dropped on request") {
    val wal = tmpDir("walrm")
    val base = tmpDir("mirrorrm")
    val t2Schema = StructType(Seq(
      StructField("oid", LongType), StructField("amt", LongType)))
    val t2 = TableConfig(Seq("oid"), t2Schema)
    val cfg = MirrorConfig(wal, s"$base/raw", s"$base/dest",
      s"$base/ckpt", Seq("id"), payloadSchema, destinationTable = "t1",
      extraTables = Map("t2" -> t2))
    def rec2(cp: Long, rt: Int, tbl: String, d: String, m: String = null) =
      ChangeRecord(rt, cp, cp.toString, cp * 1000, cp, "s", tbl, d, m, Nil)

    // Phase 1: both tables replicate.
    ChangeLogWal.append(wal, Seq(
      rec2(1, 0, "t1", """{"id":1,"name":"a","v":1}"""),
      rec2(2, 0, "t2", """{"oid":7,"amt":70}""")))
    new MirrorRunner(spark, cfg).runAvailableNow()

    // Phase 2: remove t2 (keep its data parked), continue the stream —
    // later t2 changes must NOT reach the parked table.
    val shrunk = new MirrorRunner(spark, cfg).removeTable("t2")
    assert(shrunk.extraTables.isEmpty)
    ChangeLogWal.append(wal, Seq(
      rec2(3, 1, "t2", """{"oid":7,"amt":700}""", """{"oid":7}"""),
      rec2(4, 1, "t1", """{"id":1,"name":"a2","v":2}""", """{"id":1}""")))
    val runner = new MirrorRunner(spark, shrunk)
    runner.runAvailableNow()

    assert(runner.destination("t1").collect()
      .map(_.getAs[String]("name")).toSeq == Seq("a2"))
    // Parked table still readable through the ORIGINAL (pre-removal)
    // config, frozen at its value from before the removal.
    val parked = new MirrorRunner(spark, cfg).destination("t2").collect()
      .map(r => r.getAs[Long]("oid") -> r.getAs[Long]("amt")).toMap
    assert(parked == Map(7L -> 70L))

    // dropDestination deletes the replicated data directory.
    val dropped = new MirrorRunner(spark, cfg)
      .removeTable("t2", dropDestination = true)
    assert(dropped.extraTables.isEmpty)
    assert(!new java.io.File(cfg.tableSet("t2")._2).exists())

    intercept[IllegalArgumentException] {
      new MirrorRunner(spark, shrunk).removeTable("t1")
    }
  }

  test("relation record widens the live schema; restart recovers it") {
    import graft.cdc.{SchemaEvolution, AddedColumn, TableSchemaDelta}
    import graft.types.QKind
    val wal = tmpDir("walrel")
    val base = tmpDir("mirrorrel")
    val cfg = MirrorConfig(wal, s"$base/raw", s"$base/dest",
      s"$base/ckpt", Seq("id"), payloadSchema, destinationTable = "dest.t")
    val deltaJson = SchemaEvolution.deltaToJson(TableSchemaDelta(
      "public.t", "dest.t", Seq(AddedColumn("extra", QKind.QString))))

    // insert → ADD COLUMN (relation record) → insert carrying the column.
    ChangeLogWal.append(wal, Seq(
      rec(1, 1, 0, """{"id":1,"name":"a","v":1}"""),
      ChangeRecord(ChangeRecord.TypeRelation, 2, "2", 2000, 2,
        "public.t", "dest.t", deltaJson, null, Nil),
      rec(3, 3, 0, """{"id":2,"name":"b","v":2,"extra":"x"}""")))
    val r1 = new MirrorRunner(spark, cfg)
    r1.runAvailableNow()
    val out = r1.destination().collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("extra")).toMap
    assert(out == Map(1L -> null, 2L -> "x"))

    // A RESTARTED runner still has the STATIC (narrow) config — it must
    // recover the widened schema from the destination, or this update's
    // `extra` value would be silently dropped at from_json.
    ChangeLogWal.append(wal, Seq(
      rec(4, 4, 1, """{"id":1,"name":"a","v":1,"extra":"y"}""",
        """{"id":1}""")))
    val r2 = new MirrorRunner(spark, cfg)
    r2.runAvailableNow()
    val out2 = r2.destination().collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("extra")).toMap
    assert(out2 == Map(1L -> "y", 2L -> "x"))
  }

  test("jobs per mirror batch: a fixed budget, plus one for a relation " +
    "record") {
    import graft.cdc.{AddedColumn, ChangeLogBatch, SchemaEvolution,
      TableSchemaDelta}
    import graft.types.QKind
    val wal = tmpDir("waljobs")
    val base = tmpDir("mirrorjobs")
    val cfg = MirrorConfig(wal, s"$base/raw", s"$base/dest",
      s"$base/ckpt", Seq("id"), payloadSchema, destinationTable = "dest.t")
    val runner = new MirrorRunner(spark, cfg)
    def ins(cp: Long, id: Long, extra: String = "") = rec(cp, cp,
      ChangeRecord.TypeInsert, s"""{"id":$id,"name":"n$id","v":$id$extra}""")
    def upd(cp: Long, id: Long) = rec(cp, cp, ChangeRecord.TypeUpdate,
      s"""{"id":$id,"name":"u$id","v":$cp}""", s"""{"id":$id}""")
    def del(cp: Long, id: Long) =
      rec(cp, cp, ChangeRecord.TypeDelete, null, s"""{"id":$id}""")
    val relation = ChangeRecord(ChangeRecord.TypeRelation, 12, "12", 12000,
      12, "public.t", "dest.t", SchemaEvolution.deltaToJson(TableSchemaDelta(
        "public.t", "dest.t", Seq(AddedColumn("extra", QKind.QString)))),
      null, Nil)
    val batches = Seq(
      Seq(ins(1, 1), ins(2, 2), ins(3, 3), upd(4, 1), del(5, 2)),
      Seq(ins(6, 4), upd(7, 3), upd(8, 4), del(9, 1)),
      Seq(ins(10, 5), upd(11, 3), relation, ins(13, 6, ""","extra":"x"""")))

    // Only jobs of this thread's group count: another suite's leftover
    // stream cannot leak into the budget.
    val group = "mirror-batch-jobs"
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    sc.addSparkListener(l)
    val perBatch = try batches.zipWithIndex.map { case (records, i) =>
      ChangeLogWal.append(wal, records)
      val batch = ChangeLogBatch.read(spark, wal,
        afterCp = records.head.checkpointId - 1,
        untilCp = records.last.checkpointId)
      org.apache.spark.GraftListenerBus.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, group)
      try runner.syncAndNormalize(batch, batchId = i.toLong)
      finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.drain(sc)
      jobs.get()
    } finally sc.removeSparkListener(l)

    assert(perBatch == Seq(4, 5, 6), "jobs per batch")
    val out = runner.destination().collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("extra")).toMap
    assert(out == Map(3L -> null, 4L -> null, 5L -> null, 6L -> "x"))
  }

  test("a crash at any step of a batch's merge replays to the fold") {
    // Three transactions, one micro-batch each: inserts, then updates,
    // deletes and new keys, then a delete, a reinsert and more updates.
    val txs = Seq(
      (1L to 30L).map(i => (ChangeRecord.TypeInsert, i, s"n$i")),
      (1L to 10L).map(i => (ChangeRecord.TypeUpdate, i, s"u$i")) ++
        (11L to 15L).map(i => (ChangeRecord.TypeDelete, i, null)) ++
        (31L to 40L).map(i => (ChangeRecord.TypeInsert, i, s"n$i")),
      Seq((ChangeRecord.TypeDelete, 31L, null),
        (ChangeRecord.TypeInsert, 12L, "again")) ++
        (5L to 8L).map(i => (ChangeRecord.TypeUpdate, i, s"w$i")))
    var cp = 0L
    val records = txs.zipWithIndex.flatMap { case (ops, tx) =>
      ops.map { case (rt, id, name) =>
        cp += 1
        if (rt == ChangeRecord.TypeDelete)
          rec(cp, tx + 1, rt, null, s"""{"id":$id}""")
        else if (rt == ChangeRecord.TypeInsert)
          rec(cp, tx + 1, rt, s"""{"id":$id,"name":"$name","v":$cp}""")
        else rec(cp, tx + 1, rt, s"""{"id":$id,"name":"$name","v":$cp}""",
          s"""{"id":$id}""")
      }
    }
    val fold = txs.flatten.foldLeft(Map.empty[Long, String]) {
      case (m, (rt, id, name)) =>
        if (rt == ChangeRecord.TypeDelete) m - id else m + (id -> name)
    }
    def names(df: org.apache.spark.sql.DataFrame) = df.select("id", "name")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    Seq(MergeWriter.Begin, MergeWriter.Written, MergeWriter.Committed,
        MergeWriter.Cleaned).foreach { step =>
      val base = tmpDir(s"mirrorcrash$step")
      val cfg = MirrorConfig(s"$base/wal", s"$base/raw", s"$base/dest",
        s"$base/ckpt", Seq("id"), payloadSchema, destinationTable = "dest.t",
        maxBatchSize = 1)
      ChangeLogWal.append(cfg.walDir, records)
      // Batch 2's merge dies at `step`. Begin is after its raw append and
      // high-water mark, before the merge writes anything.
      val crashing = new MirrorRunner(spark, cfg)
      var merges = 0
      crashing.writers("dest.t")._2.stepHook = s => {
        if (s == MergeWriter.Begin) merges += 1
        if (merges == 2 && s == step) throw new IllegalStateException("crash")
      }
      intercept[Exception](crashing.runAvailableNow())
      assert(merges == 2, step)

      val runner = new MirrorRunner(spark, cfg)
      runner.runAvailableNow()
      assert(names(runner.destination()) == fold, step)
      val lastBatch = spark.read.parquet(cfg.rawDir)
        .agg(org.apache.spark.sql.functions.max(
          graft.model.RawTable.BatchId)).head().getAs[Number](0).longValue()
      assert(lastBatch == 2L, step)
      assert(names(runner.destinationAsOf(lastBatch)) == fold, step)
    }
  }

  test("raw sync replay is idempotent (batch partition overwrite)") {
    import scala.jdk.CollectionConverters._
    val base = tmpDir("mirrorreplay")
    val cfg = MirrorConfig(
      walDir = tmpDir("walreplay"), rawDir = s"$base/raw",
      destDir = s"$base/dest", checkpointDir = s"$base/ckpt",
      pkColumns = Seq("id"), payloadSchema = payloadSchema,
      destinationTable = "dest.t")
    val runner = new MirrorRunner(spark, cfg)

    val batch = spark.createDataFrame(List(
      org.apache.spark.sql.Row(1L, 1L, 1000L, 0, "public.t", "dest.t",
        """{"id":1,"name":"a","v":1}""", null, null, null),
      org.apache.spark.sql.Row(2L, 1L, 1000L, 0, "public.t", "dest.t",
        """{"id":2,"name":"b","v":2}""", null, null, null)).asJava,
      graft.cdc.ChangeLogSourceProvider.schema)

    runner.syncAndNormalize(batch, batchId = 7L)
    // Simulate a crash between the raw write and the HWM update: the HWM
    // still points before batch 7, so the retry re-runs the sync. The
    // batch partition is overwritten, not appended — no duplicate rows.
    java.nio.file.Files.delete(
      java.nio.file.Paths.get(s"$base/ckpt", "graft-raw-hwm"))
    runner.syncAndNormalize(batch, batchId = 7L)

    assert(spark.read.parquet(s"$base/raw").count() == 2)
    assert(runner.destination().count() == 2)
  }

  test("same-commit-time changes to one key apply in WAL order") {
    val wal = tmpDir("waltie")
    val base = tmpDir("mirrortie")
    val cfg = MirrorConfig(
      walDir = wal, rawDir = s"$base/raw", destDir = s"$base/dest",
      checkpointDir = s"$base/ckpt", pkColumns = Seq("id"),
      payloadSchema = payloadSchema, destinationTable = "dest.t")

    // One transaction: insert + two updates of the same key, all sharing
    // the commit timestamp (the reference's BaseRecord carries the tx
    // commit time, record.go:21-28). Only the WAL position (checkpointId)
    // distinguishes them — the LAST one must win the normalize dedup.
    val commitTs = 7777000L
    def txRec(cp: Long, rt: Int, data: String, m: String = null) =
      ChangeRecord(rt, cp, cp.toString, commitTs, 9L, "public.t", "dest.t",
        data, m, Nil)
    ChangeLogWal.append(wal, Seq(
      txRec(100, ChangeRecord.TypeInsert, """{"id":1,"name":"a","v":1}"""),
      txRec(101, ChangeRecord.TypeUpdate,
        """{"id":1,"name":"b","v":2}""", """{"id":1}"""),
      txRec(102, ChangeRecord.TypeUpdate,
        """{"id":1,"name":"c","v":3}""", """{"id":1}"""),
      // Second key: delete after insert at the same commit time — the
      // tombstone must survive, not the resurrected insert.
      txRec(103, ChangeRecord.TypeInsert, """{"id":2,"name":"x","v":9}"""),
      txRec(104, ChangeRecord.TypeDelete, null, """{"id":2}""")))

    val runner = new MirrorRunner(spark, cfg)
    runner.runAvailableNow()

    val rows = runner.destination().collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[Long]("id") == 1L)
    assert(rows.head.getAs[String]("name") == "c")
    assert(rows.head.getAs[Long]("v") == 3L)
  }

  test("snapshot -> CDC handoff: stream starts after the snapshot point") {
    import spark.implicits._
    val wal = tmpDir("walsnap")
    val base = tmpDir("mirrorsnap")
    val cfg = MirrorConfig(
      walDir = wal, rawDir = s"$base/raw", destDir = s"$base/dest",
      checkpointDir = s"$base/ckpt", pkColumns = Seq("id"),
      payloadSchema = payloadSchema, destinationTable = "dest.t",
      snapshotCheckpoint = 50L)

    // WAL contains history BEFORE the snapshot point (must be skipped —
    // the snapshot already reflects it) and changes after.
    ChangeLogWal.append(wal, Seq(
      rec(10, 1, ChangeRecord.TypeInsert,
        """{"id":1,"name":"stale","v":0}"""),
      rec(60, 2, ChangeRecord.TypeUpdate,
        """{"id":1,"name":"post","v":2}""", """{"id":1}"""),
      rec(61, 3, ChangeRecord.TypeInsert,
        """{"id":3,"name":"new","v":3}""")))

    val runner = new MirrorRunner(spark, cfg)
    runner.bootstrapSnapshot(
      Seq((1L, "snap1", 1L), (2L, "snap2", 2L)).toDF("id", "name", "v"))
    assert(runner.destination().count() == 2)

    runner.runAvailableNow()
    val st = runner.destination().collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("name"), r.getAs[Long]("v"))).toMap
    assert(st == Map(
      1L -> ("post", 2L),  // post-snapshot update applied
      2L -> ("snap2", 2L), // untouched snapshot row
      3L -> ("new", 3L)))  // post-snapshot insert
    // cp 10 (pre-snapshot) was never replayed:
    assert(spark.read.parquet(s"$base/raw")
      .filter($"_peerdb_timestamp" === 10000L).isEmpty)
  }

  test("transform script redacts both images before staging (the Lua " +
    "transformRow seam)") {
    import org.apache.spark.sql.functions.col
    val wal = tmpDir("walt")
    val base = tmpDir("mirrort")
    // Uppercase the `name` field in the row-image JSON — a pure SQL
    // "script" over `data`, exercised on insert, update AND the update's
    // old image; delete's null new-image must pass through untouched.
    val cfg = MirrorConfig(
      walDir = wal, rawDir = s"$base/raw", destDir = s"$base/dest",
      checkpointDir = s"$base/ckpt", pkColumns = Seq("id"),
      payloadSchema = payloadSchema, destinationTable = "dest.t",
      transformSql = Some(
        """to_json(named_struct(
          |  'id', CAST(get_json_object(data, '$.id') AS BIGINT),
          |  'name', upper(get_json_object(data, '$.name')),
          |  'v', CAST(get_json_object(data, '$.v') AS BIGINT)))"""
          .stripMargin))
    ChangeLogWal.append(wal, Seq(
      rec(1, 1, ChangeRecord.TypeInsert,
        """{"id":1,"name":"alice","v":1}"""),
      rec(2, 1, ChangeRecord.TypeInsert,
        """{"id":2,"name":"bob","v":2}"""),
      rec(3, 2, ChangeRecord.TypeUpdate,
        """{"id":1,"name":"carol","v":9}""",
        """{"id":1,"name":"alice","v":1}"""),
      rec(4, 3, ChangeRecord.TypeDelete, null, """{"id":2}"""),
      // Relation record: schema-delta JSON rides `data` but is NOT a
      // row image — the transform must not touch it (the batch would
      // fail to parse the delta if it did).
      rec(5, 4, ChangeRecord.TypeRelation,
        """{"srcTable":"public.t","dstTable":"dest.t",
          |"addedColumns":[]}""".stripMargin.replace("\n", ""))))

    val runner = new MirrorRunner(spark, cfg)
    runner.runAvailableNow()
    val rows = runner.destination().collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("name")).toMap
    assert(rows == Map(1L -> "CAROL")) // id 2 deleted; name uppercased
    // The raw changefeed (the durable stream) holds transformed images —
    // old image included, and the delete's null data stayed null.
    val raw = spark.read.parquet(s"$base/raw")
    assert(raw.filter(col("_peerdb_data").contains("ALICE")).count() == 1)
    assert(raw.filter(col("_peerdb_match_data").contains("ALICE"))
      .count() == 1)
    assert(raw.filter(col("_peerdb_data").isNull).count() == 1)
    // The relation record's delta JSON passed through untransformed.
    assert(raw.filter(col("_peerdb_record_type") === 3).head()
      .getAs[String]("_peerdb_data").contains("addedColumns"))
  }

  test("source_schema_as_destination_column: two source tables " +
    "routing into ONE destination get a _peerdb_source_schema " +
    "disambiguator (PEERDB_SOURCE_SCHEMA_AS_DESTINATION_COLUMN; " +
    "items injection + extraction); off = no extra column") {
    def srcRec(cp: Long, src: String, data: String): ChangeRecord =
      ChangeRecord(ChangeRecord.TypeInsert, cp, cp.toString, cp * 1000,
        cp, src, "dest.m", data, null, Nil)
    val wal = tmpDir("walsrcschema")
    val base = tmpDir("mirrorsrcschema")
    ChangeLogWal.append(wal, Seq(
      srcRec(1, "sales.t", """{"id":1,"name":"a","v":1}"""),
      srcRec(2, "ops.t", """{"id":2,"name":"b","v":2}"""),
      // ops ALSO has id=1 — the column is part of the key (the
      // reference prepends it to the RMT ORDER BY, normalize.go:250):
      // sales.1 and ops.1 must both survive as distinct rows, and the
      // sales delete below must not touch ops' row
      srcRec(4, "ops.t", """{"id":1,"name":"o1","v":9}"""),
      // a delete from sales: the schema rides the match image
      ChangeRecord(ChangeRecord.TypeDelete, 5, "5", 5000, 5,
        "sales.t", "dest.m", null, """{"id":1}""", Nil)))
    val cfg = MirrorConfig(
      walDir = wal, rawDir = s"$base/raw", destDir = s"$base/dest",
      checkpointDir = s"$base/ckpt", pkColumns = Seq("id"),
      payloadSchema = payloadSchema, destinationTable = "dest.m")
    spark.conf.set(
      "spark.graft.mirror.source_schema_as_destination_column", "true")
    try {
      new MirrorRunner(spark, cfg).runAvailableNow()
      val dest = spark.read.parquet(s"$base/dest")
      val byKey = dest.collect().map(r =>
        (r.getAs[String]("_peerdb_source_schema"),
          r.getAs[Long]("id")) ->
          (r.getAs[String]("name"),
            r.getAs[Boolean]("_peerdb_is_deleted"))).toMap
      assert(byKey.size == 3, byKey.toString)
      assert(byKey(("sales", 1L)) == (("a", true)), byKey.toString)
      assert(byKey(("ops", 1L)) == (("o1", false)), byKey.toString)
      assert(byKey(("ops", 2L)) == (("b", false)), byKey.toString)
    } finally spark.conf.unset(
      "spark.graft.mirror.source_schema_as_destination_column")
    // default off: a fresh mirror has no such column
    val base2 = tmpDir("mirrorsrcschema2")
    val cfg2 = cfg.copy(rawDir = s"$base2/raw",
      destDir = s"$base2/dest", checkpointDir = s"$base2/ckpt")
    new MirrorRunner(spark, cfg2).runAvailableNow()
    assert(!spark.read.parquet(s"$base2/dest").columns
      .contains("_peerdb_source_schema"))
  }
}
