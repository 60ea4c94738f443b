package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.mirror.{MirrorConfig, MirrorRunner}
import graft.model.{ChangeRecord, RawTable}

/** What one run needs: the session, the seeded clock budget, a private
  * work directory and, in a traced run, the listeners. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    work: Path, progress: ProgressLog, trace: Option[TraceSession],
    sessionS: Double = 0.0) {
  def dir(name: String): Path = {
    val d = work.resolve(name); Files.createDirectories(d); d
  }
  def span[A](name: String)(f: => A): A =
    trace.fold(f)(_.tracer.span(name)(f))

  /** Wall seconds of each phase of the run, for the result details. */
  val phases = mutable.LinkedHashMap.empty[String, Double]
  def phase[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally phases(name) = phases.getOrElse(name, 0.0) +
      (System.nanoTime() - t0) / 1e9
  }
}

/** A run's result: gate counts, end-to-end metrics, per-layer metrics
  * (traced runs), and free-form details kept only in the result file. */
final case class Outcome(attempted: Long, failed: Long,
    endToEnd: Map[String, Double], layers: Map[String, Double],
    details: Map[String, Any])

/** Correctness gates: each counts as attempted, a miss as failed, and the
  * run goes on. */
final class Gates {
  var attempted = 0L
  var failed = 0L
  val misses = mutable.ArrayBuffer.empty[String]
  def check(name: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case scala.util.control.NonFatal(e) =>
        misses += s"$name: ${e.getClass.getSimpleName}: ${e.getMessage}"
        false
    }
    if (!pass) { failed += 1; misses += name }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Weighted quantile: the smallest value whose cumulative weight reaches
    * `q` of the total (each change record is one sample; a batch's records
    * share its value). */
  def quantile(samples: Seq[(Double, Long)], q: Double): Double = {
    val s = samples.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) return Double.NaN
    var acc = 0L
    s.find { case (_, w) => acc += w; acc >= q * total }
      .map(_._1).getOrElse(s.last._1)
  }
}

/** The two mirror workloads. Both go through the program's public entry
  * points only: the capture decoder and stream via [[MirrorRunner]], the
  * initial load via `bootstrapSnapshot`, changes via the WAL. */
object Workloads {
  val KeyCols = Seq("id")

  def mirrorConfig(base: Path, wal: Path, maxBatch: Int,
      capture: Option[Path] = None, stats: Boolean = false): MirrorConfig =
    MirrorConfig(
      walDir = wal.toString, rawDir = base.resolve("raw").toString,
      destDir = base.resolve("dest").toString,
      checkpointDir = base.resolve("ckpt").toString, pkColumns = KeyCols,
      payloadSchema = Inputs.Schema, destinationTable = Inputs.SourceTable,
      maxBatchSize = maxBatch,
      statsDir = if (stats) Some(base.resolve("stats").toString) else None,
      captureDir = capture.map(_.toString))

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime(); val a = f; (a, seconds(t0))
  }

  /** Input generation repeated `reps` times, so set-up time is a median
    * (work moved into set-up must show); the last repetition's inputs are
    * the ones measured. The warm-up that follows runs once: each of its
    * micro-batches costs seconds. */
  private def repeatedSetup[A](reps: Int)(f: Int => A): (A, Double) = {
    val runs = (1 to reps).map(i => timed(f(i)))
    (runs.last._1, Stats.median(runs.map(_._2)))
  }

  // ------------------------------------------------------------ mirror_bulk

  final case class BulkSize(txs: Int, batches: Int = 4) {
    def maxBatch: Int = (txs + batches - 1) / batches
  }

  /** One drain of a capture into an empty destination, as
    * `runAvailableNow` does it (capture decode into the WAL, then an
    * available-now stream), with the two halves timed apart. */
  final case class Drain(cfg: MirrorConfig, runner: MirrorRunner,
      records: Long, wallS: Double, startMs: Long, batches: Seq[Progress])

  def drain(ctx: Ctx, dir: Path, capture: Path, size: BulkSize): Drain = {
    val cfg = mirrorConfig(dir, dir.resolve("wal"), size.maxBatch,
      capture = Some(capture))
    val runner = new MirrorRunner(ctx.spark, cfg)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val records = ctx.span("decode")(runner.ingestCapture())
    val q = ctx.span("stream") {
      val q = runner.start(Trigger.AvailableNow())
      q.awaitTermination()
      q
    }
    val wall = seconds(t0)
    val id = q.id.toString
    val total = (p: Seq[Progress]) => p.map(_.rows).sum
    val deadline = System.currentTimeMillis() + 30000
    while (total(ctx.progress.of(id)) < records &&
      System.currentTimeMillis() < deadline) Thread.sleep(5)
    Drain(cfg, runner, records, wall, startMs,
      ctx.progress.of(id).filter(_.rows > 0))
  }

  def mirrorBulk(ctx: Ctx, size: BulkSize): Outcome = {
    val gates = new Gates
    val warmSize = BulkSize(200, batches = 2)
    val ((capture, expected), genS) = ctx.phase("setup")(repeatedSetup(3) {
      i =>
        val cap = ctx.dir(s"setup$i").resolve("capture")
        (cap, Inputs.writeCapture(cap, ctx.seed, size.txs))
    })
    // warm-up: the same path on a small capture of its own
    val (_, warmS) = ctx.phase("setup")(timed {
      val d = ctx.dir("warm")
      Inputs.writeCapture(d.resolve("capture"), ctx.seed + 1, warmSize.txs)
      drain(ctx, d.resolve("mirror"), d.resolve("capture"), warmSize)
    })
    val expectedFp = Inputs.fingerprint(ctx.spark, expected)
    val captureBytes = Files.size(capture.resolve("000001.pgout"))

    val jvm = JvmProbe.start()
    val drains = mutable.ArrayBuffer.empty[Drain]
    val t0 = System.nanoTime()
    ctx.phase("measure")(ctx.span("measure") {
      // at least two drains; another only while it should end in budget
      var n = 0
      def next = drains.lastOption.fold(0.0)(_.wallS)
      while (n < 2 || seconds(t0) + next <= ctx.seconds) {
        try drains += ctx.span("drain")(
          drain(ctx, ctx.dir(s"drain$n"), capture, size))
        catch {
          case scala.util.control.NonFatal(e) =>
            gates.check(s"drain $n completes: $e")(false)
        }
        n += 1
      }
    })
    val gc = jvm.stop()

    ctx.phase("check")(ctx.span("check") {
      drains.zipWithIndex.foreach { case (d, n) =>
        gates.check(s"drain $n applied every record")(
          d.batches.map(_.rows).sum == d.records && d.records ==
            size.txs.toLong)
        gates.check(s"drain $n destination equals the expected fold")(
          Inputs.fingerprint(d.runner.destination().select("id", "name",
            "v")) == expectedFp)
      }
      drains.lastOption.foreach { d =>
        gates.check("destination equals destinationAsOf(last batch)")(
          Inputs.fingerprint(d.runner.destinationAsOf(
            d.batches.map(_.batchId).max).select("id", "name", "v")) ==
            expectedFp)
      }
    })

    val fresh = drains.toSeq.flatMap(d =>
      d.batches.map(p => ((p.endMs - d.startMs) / 1e3, p.rows)))
    val e2e = Map(
      "setup_s" -> (ctx.sessionS + genS + warmS),
      "cdc_records_per_s" -> Stats.median(drains.toSeq.map(d =>
        d.records / d.wallS)),
      "freshness_p50_s" -> Stats.quantile(fresh, 0.5))
    val layers = ctx.trace.map { t =>
      Layers.mirror(ctx, t, drains.toSeq.map(d => (d.cfg, d.batches)),
        changeS = drains.map(_.wallS).sum,
        decodeBytes = captureBytes * drains.size,
        decodeRecords = drains.map(_.records).sum)
    }.getOrElse(Map.empty) ++ gc
    Outcome(gates.attempted + drains.size, gates.failed,
      e2e, layers, Map(
        "txs" -> size.txs, "max_batch" -> size.maxBatch,
        "freshness_p90_s" -> Stats.quantile(fresh, 0.9),
        "drains" -> drains.map(d => Map("records" -> d.records,
          "wall_s" -> d.wallS, "batches" -> d.batches.size)),
        "misses" -> gates.misses))
  }

  // --------------------------------------------------------- mirror_trickle

  final case class TrickleSize(rows: Int)

  /** Closed loop with one client: append a batch, wait until the mirror
    * has committed it, append the next, for `budgetS` seconds and within
    * `batches` (a count range). Returns (freshness samples,
    * records applied, loop seconds, batches that never became visible). */
  def trickleLoop(ctx: Ctx, runner: MirrorRunner, wal: Path, staging: Path,
      gen: Inputs.Trickle, budgetS: Double, batches: Range = 1 to Int.MaxValue)
      : (Seq[(Double, Long)], Long, Double, Int, String) = {
    val h = runner.handle(Trigger.ProcessingTime(0L))
    h.resume()
    val qid = ctx.spark.streams.active.head.id.toString
    val samples = mutable.ArrayBuffer.empty[(Double, Long)]
    var records = 0L
    var lost = 0
    val t0 = System.nanoTime()
    try {
      while (lost == 0 && samples.size < batches.last &&
        (samples.size < batches.head || seconds(t0) < budgetS)) {
        val batch = gen.nextBatch()
        val appendMs = System.currentTimeMillis()
        ctx.span("append")(Inputs.publish(wal, staging, batch))
        ctx.span("wait")(ctx.progress.awaitCp(qid, gen.lastCp, 60000)) match {
          case Some(p) =>
            samples += (((p.endMs - appendMs) / 1e3, batch.size.toLong))
            records += batch.size
          case None => lost += 1
        }
      }
    } finally h.pause()
    (samples.toSeq, records, seconds(t0), lost, qid)
  }

  def mirrorTrickle(ctx: Ctx, size: TrickleSize): Outcome = {
    val gates = new Gates
    val ((gen, snapshotPath), genS) = ctx.phase("setup")(repeatedSetup(3) {
      i =>
        val gen = new Inputs.Trickle(ctx.seed, size.rows)
        val path = ctx.dir(s"setup$i").resolve("snapshot.parquet").toString
        ctx.spark.createDataFrame(gen.snapshot).toDF("id", "name", "v")
          .write.parquet(path)
        (gen, path)
    })
    // warm-up: the same path on a small table of its own
    val (_, warmS) = ctx.phase("setup")(timed {
      val warm = new Inputs.Trickle(ctx.seed + 1, 200, keys = 10)
      val wd = ctx.dir("warm")
      val runner = new MirrorRunner(ctx.spark,
        mirrorConfig(wd, wd.resolve("wal"), 250000, stats = true))
      runner.bootstrapSnapshot(ctx.spark.createDataFrame(warm.snapshot)
        .toDF("id", "name", "v"))
      trickleLoop(ctx, runner, wd.resolve("wal"), ctx.dir("warm-stage"),
        warm, 0, batches = 1 to 1)
    })

    val base = ctx.dir("mirror")
    val wal = base.resolve("wal")
    val cfg = mirrorConfig(base, wal, 250000, stats = true)
    val runner = new MirrorRunner(ctx.spark, cfg)
    val jvm = JvmProbe.start()
    val (_, snapshotS) = ctx.phase("snapshot")(ctx.span("measure")(
      timed(ctx.span("snapshot")(runner.bootstrapSnapshot(
        ctx.spark.read.parquet(snapshotPath))))))
    val snapshotWrites = ctx.trace.map { t =>
      t.drain(); t.writes.under(cfg.destDir)
    }.getOrElse(Nil)
    val (samples, records, loopS, lost, qid) = ctx.phase("measure")(
      ctx.span("measure")(ctx.span("loop")(trickleLoop(ctx, runner, wal,
        ctx.dir("stage"), gen, ctx.seconds))))
    val gc = jvm.stop()
    val batches = ctx.progress.of(qid).filter(_.rows > 0)

    ctx.phase("check")(ctx.span("check") {
      gates.check("batches applied every record")(
        batches.map(_.rows).sum == records)
      val destFp = Inputs.fingerprint(
        runner.destination().select("id", "name", "v"))
      gates.check("destination equals the expected fold")(
        destFp == Inputs.fingerprint(ctx.spark, gen.expected))
      gates.check("destination equals destinationAsOf(last batch)") {
        // the initial load is not in the raw changefeed: the snapshot rows
        // the changefeed never touched complete the replay
        val asOf = runner.destinationAsOf(batches.map(_.batchId).max)
          .select("id", "name", "v")
        val untouched = ctx.spark.read.parquet(snapshotPath)
          .join(replayedKeys(ctx.spark, cfg), Seq("id"), "left_anti")
        Inputs.fingerprint(asOf.unionByName(untouched)) == destFp
      }
    })

    val e2e = Map(
      "setup_s" -> (ctx.sessionS + genS + warmS),
      "cdc_records_per_s" -> Stats.median(samples.map { case (f, n) =>
        n / f }),
      "freshness_p50_s" -> Stats.quantile(samples, 0.5))
    val layers = ctx.trace.map { t =>
      Layers.mirror(ctx, t, Seq((cfg, batches)), changeS = loopS,
        snapshotWrites = snapshotWrites.size) ++
        Layers.snapshot(size.rows, snapshotS, snapshotWrites)
    }.getOrElse(Map.empty) ++ gc
    Outcome(gates.attempted + samples.size + lost, gates.failed + lost,
      e2e, layers, Map(
        "rows" -> size.rows, "batches" -> samples.size,
        "freshness_p90_s" -> Stats.quantile(samples, 0.9),
        "freshness_s" -> samples.map(_._1),
        "records" -> records, "loop_s" -> loopS,
        "loop_records_per_s" -> records / loopS,
        "snapshot_rows_per_s" -> size.rows / snapshotS,
        "misses" -> gates.misses))
  }

  /** Every key the changefeed touched (raw change records of any type). */
  private def replayedKeys(spark: SparkSession, cfg: MirrorConfig) =
    spark.read.parquet(cfg.rawDir)
      .filter(col(RawTable.RecordType) <= ChangeRecord.TypeDelete)
      .select(get_json_object(coalesce(col(RawTable.MatchData),
        col(RawTable.Data)), "$.id").cast("long").as("id"))
}
