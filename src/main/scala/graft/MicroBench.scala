package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Ad-hoc micro-benchmark harness for comparing alternative formulations
  * of a hot operator outside the Bench gate. Not part of the driver
  * contract. `sbt "runMain graft.MicroBench <which> [sfDir]"`. */
object MicroBench {
  private def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"$label%-28s ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    // same session shape as Bench: SPARK_GRAFT_CPUS cores and as many
    // shuffle partitions
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.functions.{TextFunctions => TF}

    // lazy: the cdc case reuses args(1) as its batch size, not an sfDir
    lazy val docs = {
      val d = spark.read.parquet(s"$sfDir/documents.parquet")
        .select("doc_id", "text")
      d.localCheckpoint(true).count()
      d
    }

    args.headOption.getOrElse("q") match {
      case "minhash" =>
        import graft.queries.PipelineQueries
        time("warm full")(PipelineQueries.dedupMinhashLsh
          .run(spark, sfDir).count())
        (1 to 3).foreach(i => time(s"full run $i")(
          PipelineQueries.dedupMinhashLsh.run(spark, sfDir).count()))
        val base = docs
          .select(col("doc_id"), TF.words(col("text")).as("ws"))
          .filter(size(col("ws")) >= 3)
        (1 to 2).foreach(i => time(s"signatures $i")(
          TF.minhashSignaturesDf(
            base, "doc_id", TF.wordShingles(col("ws"), 3), 32).count()))
        val bands = TF.minhashSignaturesDf(
            base, "doc_id", TF.wordShingles(col("ws"), 3), 32)
          .withColumn("bands", TF.minhashBands("sig", 8, 4))
          .select(col("doc_id"),
            posexplode(col("bands")).as(Seq("band", "key")))
          .localCheckpoint(true)
        (1 to 3).foreach { i =>
          time(s"pairs via join $i")(bands.as("a")
            .join(bands.as("b").hint("shuffle_hash"),
              col("a.band") === col("b.band") &&
                col("a.key") === col("b.key") &&
                col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
            .distinct().count())
        }
        (1 to 3).foreach { i =>
          time(s"pairs via bucket $i")(bands
            .groupBy("band", "key")
            .agg(sort_array(collect_list("doc_id")).as("ids"))
            .filter(size(col("ids")) > 1)
            .select(explode(expr(
              """flatten(transform(ids, (x, i) ->
                |  transform(slice(ids, i + 2, size(ids) - i - 1),
                |    y -> struct(x AS d1, y AS d2))))""".stripMargin))
              .as("p"))
            .select(col("p.d1"), col("p.d2"))
            .distinct().count())
        }
      case "ivf" =>
        import graft.queries.PipelineQueries
        time("warm full")(PipelineQueries.annIvf.run(spark, sfDir).count())
        (1 to 2).foreach(i => time(s"full run $i")(
          PipelineQueries.annIvf.run(spark, sfDir).count()))
      case "q" =>
        // Generic per-query timing: 3 runs of any registry query with the
        // same block cleanup Bench uses.
        val name = args.lift(2).getOrElse("q_bm25")
        val fn = SparkEntry.queries(name)
        (1 to 3).foreach { i =>
          // toRdd.count() like Bench: full-plan materialization, no
          // count-rewrite projection pruning.
          time(s"$name #$i")(fn(spark, sfDir).queryExecution.toRdd.count())
          graft.queries.SharedStages.sweep(spark)
        }
      case "prof" =>
        // Per-JOB wall-time profile of one registry query (guide §1):
        // a listener logs every job's duration + first-stage callsite so
        // multi-job queries (checkpointed pipelines) show where the
        // seconds go. Run 3×; read the LAST run's rows (warm).
        val name = args.lift(2).getOrElse("q_curation_increment")
        val fn = SparkEntry.queries(name)
        val jobs = new java.util.concurrent.ConcurrentHashMap[
          Int, (String, Long)]()
        val done = new java.util.concurrent.ConcurrentLinkedQueue[
          (Int, String, Double)]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onJobStart(
                js: org.apache.spark.scheduler.SparkListenerJobStart)
                : Unit = {
              val site = js.stageInfos.sortBy(_.stageId).lastOption
                .map(_.details.linesIterator.take(1).mkString)
                .getOrElse("?")
              jobs.put(js.jobId, (site, js.time))
            }
            override def onJobEnd(
                je: org.apache.spark.scheduler.SparkListenerJobEnd)
                : Unit = {
              Option(jobs.remove(je.jobId)).foreach { case (site, t0) =>
                done.add((je.jobId, site, (je.time - t0) / 1e3))
              }
            }
            override def onStageCompleted(
                sc: org.apache.spark.scheduler
                  .SparkListenerStageCompleted): Unit = {
              val si = sc.stageInfo
              val secs = (for {
                t1 <- si.completionTime; t0 <- si.submissionTime
              } yield (t1 - t0) / 1e3).getOrElse(-1.0)
              if (secs > 0.05)
                println(f"    stage ${si.stageId}%4d $secs%7.3f s " +
                  f"tasks=${si.numTasks}%-4d ${si.name.take(90)}")
            }
          })
        (1 to 3).foreach { i =>
          done.clear()
          time(s"$name #$i")(fn(spark, sfDir).queryExecution.toRdd.count())
          graft.queries.SharedStages.sweep(spark)
          Thread.sleep(200) // let listener events drain
          val rows = done.toArray(Array.empty[(Int, String, Double)])
            .sortBy(_._1)
          rows.foreach { case (id, site, secs) =>
            println(f"  job $id%4d $secs%7.3f s  $site")
          }
          println(f"  [prof] jobs=${rows.length} " +
            f"sum=${rows.map(_._3).sum}%.3f s")
        }
      case "cdc" =>
        // End-to-end mirror throughput: WAL decode → raw staging append →
        // normalize (latest-version dedup, TOAST backfill, soft delete) →
        // hash-bucketed MERGE into the destination. The reference claims
        // "10k+ tps sustained" for this path (BASELINE.md) — measure ours
        // at the reference's default batch size (250k records/batch).
        cdcThroughput(spark, records = 1000000,
          maxBatch = args.lift(1).map(_.toInt).getOrElse(250000))
      case "lua" =>
        // Interpreter-only throughput: N records through ONE
        // PartitionRunner of the q_lua_route script, single-threaded
        // (isolates the per-record script cost from the Spark plan).
        val n = args.lift(1).map(_.toInt).getOrElse(200000)
        val script = args.lift(2) match {
          case Some("nil") => "function onRecord(r) return nil end"
          case Some("kind") => "function onRecord(r) return r.kind end"
          case Some("row") =>
            """function onRecord(r) return tostring(r.row.user_id) end"""
          case _ => """
          local json = require "json"
          function onRecord(r)
            if r.kind == "delete" then return nil end
            local key = tostring(r.row.user_id % 8)
            if r.kind == "update" then
              return { topic = "hot." .. r.target, key = key,
                       value = json.encode(r.row) }
            end
            return { key = key, value = json.encode(r.row) }
          end"""
        }
        val qs = new graft.transform.LuaQueueScript(script)
        (1 to 3).foreach { round =>
          val runner = new qs.PartitionRunner
          var out = 0L
          val t0 = System.nanoTime()
          var i = 0
          while (i < n) {
            val rec = graft.transform.LuaRecordEnv.Rec(
              i % 3, i.toLong, i.toLong * 1000, i.toLong / 100,
              "public.events", "evt" + (i % 5),
              s"""{"user_id":${i % 977},"event_id":$i}""", null, Nil)
            out += runner.onRecord(rec).size
            i += 1
          }
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"lua #$round: $n records ${secs}%.3f s " +
            f"(${(n / secs).toLong} rec/s, $out shaped)")
        }
      case "adapt" =>
        // transformRecord/transformRow throughput: the CDC adapt
        // stage's per-record ceiling (parse → hook → dirty re-encode),
        // single-threaded like one partition interpreter.
        val n = args.lift(1).map(_.toInt).getOrElse(200000)
        val script = args.lift(2) match {
          case Some("noop") => "function transformRecord(r) end"
          case Some("row") => """
            function transformRow(row)
              row.amount_cents = row.amount_cents + 1
            end"""
          case _ => """
            function transformRecord(r)
              if r.kind ~= "delete" then
                r.row.user_id = r.row.user_id % 100
                r.row.bucket = string.format("b%03d", r.row.user_id)
              end
            end"""
        }
        val as = new graft.transform.LuaAdaptScript(script)
        (1 to 3).foreach { round =>
          val runner = new as.PartitionRunner
          var rebuilt = 0L
          val t0 = System.nanoTime()
          var i = 0
          while (i < n) {
            val rec = graft.transform.LuaRecordEnv.Rec(
              i % 3, i.toLong, i.toLong * 1000, i.toLong / 100,
              "public.events", "evt" + (i % 5),
              s"""{"user_id":${i % 977},"amount_cents":$i}""", null,
              Nil)
            val (d, m) = runner.transformImages(rec)
            if (!(d eq rec.data) || !(m eq rec.matchData)) rebuilt += 1
            i += 1
          }
          val secs = (System.nanoTime() - t0) / 1e9
          println(f"adapt #$round: $n records ${secs}%.3f s " +
            f"(${(n / secs).toLong} rec/s, $rebuilt re-encoded)")
        }
      case "pgout" =>
        // Decoder throughput: binary pgoutput frames (the reference's
        // actual ingest format) → ChangeRecords → WAL, single-threaded
        // like the slot read itself.
        pgoutThroughput(args.lift(1).map(_.toInt).getOrElse(1000000))
      case "binlog" =>
        // MySQL wire-decode throughput: binary binlog events →
        // ChangeRecords, single-threaded like the syncer read.
        binlogThroughput(args.lift(1).map(_.toInt).getOrElse(1000000))
      case "neardup" =>
        // Streaming near-dup throughput: docs/s through the full
        // NearDupStream path (signature + banding + per-bucket RocksDB
        // state comparison) across multiple microbatches.
        nearDupThroughput(spark,
          args.lift(1).map(_.toInt).getOrElse(20000))
      case other => sys.error(s"unknown micro-bench: $other")
    }
  }

  /** pgoutput decode throughput: encode `records` single-row txs into
    * framed capture files, then ingest (decode + WAL append). */
  private def pgoutThroughput(records: Int): Unit = {
    import graft.cdc.PgOutput._
    import graft.cdc.PgOutputFrames
    val base = java.nio.file.Files
      .createTempDirectory("pgoutbench").toString
    val frames = s"$base/frames"
    val wal = s"$base/wal"
    val rel = Relation(10, "public", "t", 'd'.toInt, Seq(
      RelationColumn(1, "id", Oid.Int8, -1),
      RelationColumn(0, "name", Oid.Text, -1),
      RelationColumn(0, "v", Oid.Int8, -1)))
    time("capture generate") {
      var lsn = 1L
      (0 until records).grouped(200000).zipWithIndex.foreach {
        case (chunk, fi) =>
          val buf = Seq.newBuilder[(Long, Array[Byte])]
          if (fi == 0) { buf += (lsn -> encode(rel)); lsn += 1 }
          chunk.foreach { i =>
            buf += (lsn -> encode(Begin(lsn + 2, 946684800000000L + i, i)))
            buf += ((lsn + 1) -> encode(Insert(10, TupleData(Seq(
              text(i.toString), text(s"name_$i"), text((i * 10).toString))))))
            buf += ((lsn + 2) -> encode(Commit(0, lsn + 2, lsn + 3,
              946684800000000L + i)))
            lsn += 3
          }
          PgOutputFrames.appendFrames(
            java.nio.file.Paths.get(frames, f"$fi%06d.pgout"),
            buf.result())
      }
    }
    val t0 = System.nanoTime()
    val (n, _) = PgOutputFrames.ingest(frames, wal)
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"pgout ingest: $n records in $dt%.1f s = ${n / dt}%.0f" +
      " records/s (decode + tx-cut + WAL append)")
  }

  /** MySQL binlog decode throughput: encode single-row txs (BEGIN +
    * WRITE_ROWS + XID) as binary events, then decode the full stream. */
  private def binlogThroughput(records: Int): Unit = {
    import graft.cdc.MysqlBinlog._
    import graft.cdc.MysqlBinlogDecoder
    val tm = TableMap(10L, "app", "t",
      Array(ColType.LongLong, ColType.Varchar, ColType.LongLong),
      Array(0, 255, 0), Array(false, true, true),
      Seq("id", "name", "v"), Seq(true, true, true))
    val events = Seq.newBuilder[Array[Byte]]
    events += encodeFormatDescription(1L, 4L)
    events += encodeTableMap(1L, 10L, tm)
    time("binlog generate") {
      var pos = 20L
      (0 until records).foreach { i =>
        events += encodeQuery(i.toLong, pos, "app", "BEGIN")
        events += encodeRows(i.toLong, pos + 1, Ev.WriteRowsV2, tm, Seq(
          Seq(Some(Some(fLong(i.toLong))),
            Some(Some(fVarchar(s"name_$i", 255))),
            Some(Some(fLong(i * 10L))))))
        events += encodeXid(i.toLong, pos + 2, i.toLong)
        pos += 3
      }
    }
    val all = events.result()
    val dec = new MysqlBinlogDecoder()
    val t0 = System.nanoTime()
    var n = 0L
    all.foreach(e => n += dec.feed(e).size)
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"binlog decode: $n records in $dt%.1f s = ${n / dt}%.0f" +
      " records/s (frame parse + row decode + checkpoint bookkeeping)")
  }

  /** Full-pipeline CDC throughput: insert/update/delete mix through
    * WAL → DSv2 stream → raw append → normalize → bucketed MERGE. */
  private def cdcThroughput(spark: SparkSession, records: Int,
      maxBatch: Int): Unit = {
    import graft.cdc.ChangeLogWal
    import graft.mirror.{MirrorConfig, MirrorRunner}
    import graft.model.ChangeRecord
    import org.apache.spark.sql.types._

    val base = java.nio.file.Files
      .createTempDirectory("cdcbench").toString
    val wal = s"$base/wal"
    val keys = records / 2 // every key inserted; half updated or deleted
    def rec(cp: Long, rt: Int, id: Long, v: Long): ChangeRecord =
      ChangeRecord(rt, cp, cp.toString, cp * 1000, cp / 100,
        "public.t", "dest.t",
        if (rt == ChangeRecord.TypeDelete) null
        else s"""{"id":$id,"name":"name_$id","v":$v}""",
        if (rt == ChangeRecord.TypeInsert) null else s"""{"id":$id}""",
        Nil)
    time("wal generate") {
      var cp = 0L
      // inserts for all keys, then an update/delete tail — segments of
      // 100k lines (the WAL reader streams segment-at-a-time).
      (0 until keys).grouped(100000).foreach { chunk =>
        ChangeLogWal.append(wal, chunk.map { i =>
          cp += 1; rec(cp, ChangeRecord.TypeInsert, i, i)
        })
      }
      (0 until (records - keys)).grouped(100000).foreach { chunk =>
        ChangeLogWal.append(wal, chunk.map { i =>
          cp += 1
          val id = i % keys
          if (i % 10 == 9) rec(cp, ChangeRecord.TypeDelete, id, 0)
          else rec(cp, ChangeRecord.TypeUpdate, id, i)
        })
      }
    }
    val cfg = MirrorConfig(
      walDir = wal, rawDir = s"$base/raw", destDir = s"$base/dest",
      checkpointDir = s"$base/ckpt", pkColumns = Seq("id"),
      payloadSchema = StructType(Seq(
        StructField("id", LongType), StructField("name", StringType),
        StructField("v", LongType))),
      destinationTable = "dest.t",
      maxBatchSize = maxBatch) // 250000 = the reference's default
    val t0 = System.nanoTime()
    new MirrorRunner(spark, cfg).runAvailableNow()
    val secs = (System.nanoTime() - t0) / 1e9
    val destRows = new MirrorRunner(spark, cfg).destination().count()
    println(f"cdc mirror: $records%d records in $secs%.1f s = " +
      f"${records / secs}%.0f records/s (dest rows: $destRows%d; " +
      "reference claim: 10k+ tps)")
  }

  /** Streaming near-dup throughput: deterministic synthetic docs (every
    * 10th a near-dup of an earlier doc, 2 of 30 words rewritten) pushed
    * through [[graft.streaming.NearDupStream]] in 5 microbatches
    * (Trigger.Once each — the processing-time TTL makes open-ended
    * triggers schedule housekeeping batches forever, same caveat as
    * StreamOpsSpec). Reported rate covers signature + banding + RocksDB
    * bucket-state comparison, batches 2..5 matching against recovered
    * checkpoint state. */
  private def nearDupThroughput(spark: SparkSession, docs: Int): Unit = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val spark0 = spark
    import spark0.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state." +
        "RocksDBStateStoreProvider")
    // per-doc-unique words: originals share NOTHING (a modular-arithmetic
    // vocab measured 3.4x the planted match count via accidental long
    // shared runs), so every match traces to a planted pair
    def words(i: Int): IndexedSeq[String] =
      (0 until 30).map(j => s"w${i}_$j")
    def text(i: Int): String = {
      val base = if (i % 10 == 0 && i >= 5) words(i - 5) else words(i)
      val ws = if (i % 10 == 0 && i >= 5)
        base.dropRight(2) ++ Seq(s"x$i", s"y$i") else base
      ws.mkString(" ")
    }
    val all = (0 until docs).map(i => (i.toLong, text(i)))
    val ckpt = java.nio.file.Files
      .createTempDirectory("ndup_bench").toString
    val input = MemoryStream[(Long, String)]
    var matches = 0L
    // Trigger.Once per chunk: an open-ended trigger under a
    // processing-time TTL schedules housekeeping batches back-to-back
    // (measured: 1385 empty batches in minutes) — so a restart per
    // chunk is the bounded harness, and its fixed cost (~2 s each,
    // RocksDB reopen + planning) is PART of the reported rate.
    def runPhase(): Unit = {
      val q = graft.streaming.NearDupStream.nearDups(
          input.toDF().toDF("doc_id", "text"), "doc_id", "text",
          java.time.Duration.ofHours(1), minSamePm = 500L)
        .writeStream
        .foreachBatch {
          (ds: org.apache.spark.sql.Dataset[
              graft.streaming.NearDupStream.Match], _: Long) =>
            matches += ds.count()
        }
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(Trigger.Once())
        .start()
      try q.awaitTermination() finally q.stop()
    }
    val batches = all.grouped(math.max(docs / 5, 1)).toSeq
    val t0 = System.nanoTime()
    batches.foreach { b => input.addData(b); runPhase() }
    val dt = (System.nanoTime() - t0) / 1e9
    println(f"neardup stream: $docs docs in $dt%.1f s = " +
      f"${docs / dt}%.0f docs/s incl. ${batches.size} restarts, " +
      f"$matches band-matches (~${docs / 10} planted near-dup docs)")
  }
}
