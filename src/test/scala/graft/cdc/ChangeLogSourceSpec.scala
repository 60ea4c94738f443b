package graft.cdc

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.Trigger

import graft.SparkSpec
import graft.model.ChangeRecord

class ChangeLogSourceSpec extends SparkSpec {

  private def rec(cp: Long, tx: Long, rt: Int, data: String): ChangeRecord =
    ChangeRecord(rt, cp, cp.toString, cp * 1000, tx, "src.t", "dest.t",
      data, null, Nil)

  test("batch read of empty-but-existing WAL dir is typed-empty") {
    val dir = tmpDir("emptywal")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val df = ChangeLogBatch.read(spark, dir)
    assert(df.schema == ChangeLogSourceProvider.schema)
    assert(df.count() == 0)
  }

  test("batch read fails loudly on a corrupt WAL line") {
    val dir = tmpDir("corruptwal")
    ChangeLogWal.append(dir, Seq(rec(1, 1, 0, """{"id":1}""")))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(dir, "999999.wal"), "garbage line\n")
    val e = intercept[Exception] {
      ChangeLogBatch.read(spark, dir).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Nil else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m =>
      m.contains("malformed WAL line") || m.contains("CAST_INVALID_INPUT")))
  }

  test("micro-batches cut only at transaction boundaries") {
    val wal = tmpDir("wal")
    val ckpt = tmpDir("ckpt")
    // tx1: 2 records, tx2: 3 records, tx3: 1 record; maxBatchSize=3.
    // Expected cuts: tx2 straddles the cap → batch extends to cp5;
    // batch2 = cp6 alone. A naive cap would tear tx2.
    ChangeLogWal.append(wal, Seq(
      rec(1, 100, 0, """{"id":1}"""), rec(2, 100, 0, """{"id":2}"""),
      rec(3, 200, 0, """{"id":3}"""), rec(4, 200, 0, """{"id":4}"""),
      rec(5, 200, 0, """{"id":5}"""),
      rec(6, 300, 0, """{"id":6}""")))

    val batches = new ConcurrentHashMap[Long, Seq[Long]]()
    val q = spark.readStream
      .format("graft.cdc.ChangeLogSourceProvider")
      .option("path", wal)
      .option("maxBatchSize", "3")
      .load()
      .writeStream
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (df: DataFrame, id: Long) =>
        batches.put(id,
          df.select("checkpointId").collect().map(_.getLong(0)).toSeq.sorted)
        ()
      }
      .start()
    q.awaitTermination()

    val sizes = batches.asScala.toSeq.sortBy(_._1).map(_._2)
    assert(sizes == Seq(Seq(1L, 2L, 3L, 4L, 5L), Seq(6L)))
  }

  test("restart resumes from checkpointed offset, no reread") {
    val wal = tmpDir("wal2")
    val ckpt = tmpDir("ckpt2")
    ChangeLogWal.append(wal, Seq(rec(1, 1, 0, """{"id":1}""")))

    def drain(): Seq[Long] = {
      val seen = new java.util.concurrent.CopyOnWriteArrayList[Long]()
      val q = spark.readStream
        .format("graft.cdc.ChangeLogSourceProvider")
        .option("path", wal).option("maxBatchSize", "10").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("checkpointId").collect()
            .foreach(r => seen.add(r.getLong(0)))
          ()
        }
        .start()
      q.awaitTermination()
      seen.asScala.toSeq
    }

    assert(drain() == Seq(1L))
    ChangeLogWal.append(wal, Seq(rec(2, 2, 1, """{"id":1,"v":2}""")))
    assert(drain() == Seq(2L)) // only the new record, offset persisted
  }

  test("metrics listener captures per-batch progress") {
    val wal = tmpDir("wal3")
    val ckpt = tmpDir("ckpt3")
    ChangeLogWal.append(wal, (1L to 6L).map(i =>
      rec(i, i, 0, s"""{"id":$i}""")))
    import graft.mirror.Metrics.{RecordsPerSecond, RecordsSynced}
    val sink = new graft.mirror.InMemoryMetrics()
    val metrics = new graft.mirror.MetricsListener(sink).register(spark)
    // one RecordsSynced gauge point per progress event
    def batches = sink.history.filter(_.name == RecordsSynced)
    try {
      val q = spark.readStream
        .format("graft.cdc.ChangeLogSourceProvider")
        .option("path", wal).option("maxBatchSize", "2").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) => df.count(); () }
        .start()
      q.awaitTermination()
      // listener events are async; poll briefly
      var waited = 0
      while (batches.map(_.value).sum < 6 && waited < 50) {
        Thread.sleep(100); waited += 1
      }
      assert(batches.map(_.value).sum == 6.0)
      assert(batches.size >= 3) // maxBatchSize=2 → ≥3 batches
      assert(sink.history.exists(_.name == RecordsPerSecond))

      // Slot lag: drained → 0; three fresh WAL records → 3; drained → 0.
      assert(graft.mirror.SlotLag.records(wal, ckpt) == 0L)
      ChangeLogWal.append(wal, (7L to 9L).map(i =>
        rec(i, i, 0, s"""{"id":$i}""")))
      assert(graft.mirror.SlotLag.records(wal, ckpt) == 3L)
      val q2 = spark.readStream
        .format("graft.cdc.ChangeLogSourceProvider")
        .option("path", wal).option("maxBatchSize", "10").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) => df.count(); () }
        .start()
      q2.awaitTermination()
      assert(graft.mirror.SlotLag.records(wal, ckpt) == 0L)
    } finally metrics.unregister(spark)
  }

  test("text checkpoint (GTID-style) round-trips offset + restart") {
    val wal = tmpDir("gtidwal")
    val ckpt = tmpDir("gtidckpt")
    def grec(cp: Long, gtid: String): ChangeRecord =
      ChangeRecord(0, cp, gtid, cp * 1000, cp, "src.t", "dest.t",
        s"""{"id":$cp}""", null, Nil)
    val u = "3e11fa47-71ca-11e1-9e33-c80aa9429562"
    ChangeLogWal.append(wal, Seq(
      grec(1, s"$u:1"), grec(2, s"$u:1-2")))

    val texts = new java.util.concurrent.CopyOnWriteArrayList[String]()
    def drain(): Unit = {
      val q = spark.readStream
        .format("graft.cdc.ChangeLogSourceProvider")
        .option("path", wal).option("maxBatchSize", "10").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (df: DataFrame, _: Long) =>
          df.select("checkpointText").collect()
            .foreach(r => texts.add(r.getString(0)))
          ()
        }
        .start()
      q.awaitTermination()
    }
    drain()
    // The records expose their text checkpoints as a column...
    assert(texts.asScala.toSet == Set(s"$u:1", s"$u:1-2"))
    // ...and the COMMITTED OFFSET carries the cut record's text — the
    // opaque resume position a GTID/resume-token source needs back.
    val off = java.nio.file.Files.readString(
      java.nio.file.Paths.get(ckpt, "offsets", "0"))
    assert(off.contains(s"$u:1-2"))
    // Restart: deserializes the text offset and resumes past it.
    ChangeLogWal.append(wal, Seq(grec(3, s"$u:1-3")))
    texts.clear()
    drain()
    assert(texts.asScala.toSeq == Seq(s"$u:1-3"))
    val off1 = java.nio.file.Files.readString(
      java.nio.file.Paths.get(ckpt, "offsets", "1"))
    assert(off1.contains(s"$u:1-3"))
  }

  test("boundedCut streams: batch-size lines parsed, not the segment") {
    val wal = tmpDir("bigwal")
    // ONE live segment of 50k single-record transactions.
    ChangeLogWal.append(wal, (1L to 50000L).map(i =>
      rec(i, i, 0, s"""{"id":$i}""")))
    val (cut, text, parsed) =
      ChangeLogWal.boundedCut(wal, -1L, Long.MaxValue, 10)
    assert(cut == 10L)
    assert(text == Some("10")) // rec() writes cp.toString as the text
    // 10 admitted + 1 lookahead — NOT 50k.
    assert(parsed <= 12L, s"parsed $parsed lines for a 10-record batch")

    // Multi-record transactions extend past the cap to the boundary.
    val (cut2, _, parsed2) =
      ChangeLogWal.boundedCut(wal, 10L, Long.MaxValue, 5)
    assert(cut2 == 15L && parsed2 <= 50L)

    // Idle trigger over the fully-consumed segment: tail-read skip, zero
    // lines parsed.
    val (cut3, _, parsed3) =
      ChangeLogWal.boundedCut(wal, 50000L, Long.MaxValue, 10)
    assert(cut3 == 50000L)
    assert(parsed3 == 0L, s"idle trigger parsed $parsed3 lines")
  }

  test("boundedCut never tears a transaction and respects the cap") {
    val wal = tmpDir("txwal")
    ChangeLogWal.append(wal, Seq(
      rec(1, 100, 0, "a"), rec(2, 100, 0, "b"),
      rec(3, 200, 0, "c"), rec(4, 200, 0, "d"), rec(5, 200, 0, "e"),
      rec(6, 300, 0, "f")))
    // max=3 lands mid-tx200 → extends to cp5.
    val (cut, _, _) = ChangeLogWal.boundedCut(wal, -1L, Long.MaxValue, 3)
    assert(cut == 5L)
    // cap=4 hides cp5-6; the visible stream ends at cp4 (same contract as
    // the pinned AvailableNow head).
    val (cut2, _, _) = ChangeLogWal.boundedCut(wal, -1L, 4L, 100)
    assert(cut2 == 4L)
    // nothing new → cut == after.
    val (cut3, _, _) = ChangeLogWal.boundedCut(wal, 6L, Long.MaxValue, 100)
    assert(cut3 == 6L)
  }

  test("a stray temporary segment is neither read nor counted") {
    val wal = tmpDir("straywal")
    val d = java.nio.file.Paths.get(wal)
    def names = ChangeLogWal.segmentFiles(d).map(_.getFileName.toString)
    ChangeLogWal.append(wal, Seq(rec(1, 100, 0, """{"id":1}""")))
    // what a writer that died between its write and the rename leaves
    java.nio.file.Files.writeString(d.resolve(".000007.wal.tmp"), "2\u001F")
    assert(names == Seq("000000.wal"))
    assert(ChangeLogWal.headCp(wal) == 1L)
    ChangeLogWal.append(wal, Seq(rec(2, 200, 0, """{"id":2}""")))
    assert(names == Seq("000000.wal", "000001.wal"))
    assert(ChangeLogWal.read(wal, -1L, Long.MaxValue).map(_(0).toLong) ==
      Seq(1L, 2L))
    assert(ChangeLogBatch.read(spark, wal).count() == 2)
  }

  test("a reader polling a live WAL never sees a short record") {
    val wal = tmpDir("livewal")
    val d = java.nio.file.Paths.get(wal)
    // ~100 KB segments: a plain file write lands in a dozen pieces
    val pad = "x" * 2000
    def data(cp: Long) = s"""{"id":$cp,"pad":"$pad"}"""
    val txs = 100
    val perTx = 50
    // built up front, so the writer spends its time writing segments
    val segments = (0 until txs).map(t => (1 to perTx).map { i =>
      val cp = t.toLong * perTx + i
      rec(cp, t.toLong, 0, data(cp))
    })
    val writer =
      new Thread(() => segments.foreach(ChangeLogWal.append(wal, _)))
    // A lister polls as fast as it can: every segment it can list is
    // whole (non-empty, its last line complete).
    val partial = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val lister = new Thread(() => while (writer.isAlive) {
      ChangeLogWal.segmentFiles(d).foreach { p =>
        val ch = java.nio.channels.FileChannel.open(p)
        val last = java.nio.ByteBuffer.allocate(1)
        try {
          val size = ch.size()
          if (size == 0 || ch.read(last, size - 1) != 1 ||
            last.get(0) != '\n') partial.add(s"${p.getFileName} ($size B)")
        } finally ch.close()
      }
    })
    // A consumer drains through the stream's own cut and read.
    val seen = scala.collection.mutable.ArrayBuffer.empty[Long]
    var after = 0L
    def poll(): Unit = {
      val (cut, _, _) =
        ChangeLogWal.boundedCut(wal, after, Long.MaxValue, Int.MaxValue)
      // each segment is one transaction: a cut inside one read a prefix
      assert(cut % perTx == 0, s"cut $cut tears a transaction")
      ChangeLogWal.readIter(wal, after, cut).foreach { f =>
        assert(f.length == 10, s"short record: ${f.mkString("|").take(80)}")
        val cp = f(0).toLong
        assert(f(6) == data(cp), s"torn payload at cp $cp")
        seen += cp
      }
      after = cut
    }
    writer.start()
    lister.start()
    try while (writer.isAlive) poll()
    finally { writer.join(); lister.join() }
    poll()
    assert(partial.size == 0,
      s"listed partial segments: ${partial.asScala.take(5).mkString(", ")}")
    assert(seen == (1L to txs.toLong * perTx))
  }

  test("DSv2 batch read: same table, full-history distributed scan") {
    val wal = tmpDir("batchwal")
    ChangeLogWal.append(wal, Seq(
      rec(1, 100, 0, """{"id":1}"""), rec(2, 100, 0, """{"id":2}""")))
    ChangeLogWal.append(wal, Seq(
      rec(3, 200, 1, """{"id":1}"""), rec(4, 300, 2, null)))
    val df = spark.read
      .format("graft.cdc.ChangeLogSourceProvider")
      .option("path", wal)
      .load()
    assert(df.schema == ChangeLogSourceProvider.schema)
    assert(df.count() == 4)
    // one input partition per segment file
    assert(df.rdd.getNumPartitions == 2)
    // startingCheckpoint skips already-snapshotted history at SEGMENT
    // granularity on the plan side, record granularity on the read side
    val resumed = spark.read
      .format("graft.cdc.ChangeLogSourceProvider")
      .option("path", wal)
      .option("startingCheckpoint", "2")
      .load()
    assert(resumed.select("checkpointId").collect().map(_.getLong(0))
      .sorted.toSeq == Seq(3L, 4L))
  }
}
