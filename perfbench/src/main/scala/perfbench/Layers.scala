package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.cdc.{NormalizeConfig, Normalizer}
import graft.mirror.MirrorConfig
import graft.model.{ChangeRecord, RawTable}

/** GC time and peak heap over the measured phase. */
final class JvmProbe private (gc0: Long) {
  def stop(): Map[String, Double] = Map(
    "jvm.gc_s" -> (JvmProbe.gcMs - gc0) / 1e3,
    "jvm.heap_peak_mb" -> JvmProbe.heapPools.map(_.getPeakUsage.getUsed)
      .sum / 1e6)
}

object JvmProbe {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)
  def start(): JvmProbe = {
    heapPools.foreach(_.resetPeakUsage())
    new JvmProbe(gcMs)
  }
}

/** Per-layer numbers of a traced mirror run, read from the spans, the
  * listeners and (for row counts) a re-run of the normalize and source
  * reads after the change phase. */
object Layers {
  private val MB = 1e6

  /** `runs`: each mirror of the change phase with its committed batches;
    * `changeS`: wall seconds of the change phase; `snapshotWrites`: how
    * many destination writes the initial load made before the changes.
    * Micro-batch work is found through the batches' streaming query ids. */
  def mirror(ctx: Ctx, t: TraceSession, runs: Seq[(MirrorConfig,
      Seq[Progress])], changeS: Double, decodeBytes: Long = 0L,
      decodeRecords: Long = 0L, snapshotWrites: Int = 0)
      : Map[String, Double] = {
    val spark = ctx.spark
    val (rowsIn, rowsOut, readS, readRecords) = ctx.phase("layers")(
        t.tracer.span("layers") {
      val counts = runs.map { case (cfg, batches) =>
        val raw = spark.read.parquet(cfg.rawDir).filter(
          col(RawTable.DestinationTable) === cfg.destinationTable &&
            col(RawTable.RecordType) <= ChangeRecord.TypeDelete)
        val norm = NormalizeConfig(cfg.pkColumns, cfg.payloadSchema)
        val perBatch = batches.map(_.batchId).map { b =>
          val slice = raw.filter(col(RawTable.BatchId) === b)
          (slice.count(), Normalizer.normalize(slice, norm).count())
        }
        val t0 = System.nanoTime()
        val read = spark.read.format("graft.cdc.ChangeLogSourceProvider")
          .option("path", cfg.walDir).load().queryExecution.toRdd.count()
        (perBatch.map(_._1).sum, perBatch.map(_._2).sum,
          (System.nanoTime() - t0) / 1e9, read)
      }
      (counts.map(_._1).sum, counts.map(_._2).sum, counts.map(_._3).sum,
        counts.map(_._4).sum)
    })
    t.drain()

    val tr = t.tracer
    val measured = tr.spans.filter(_.name == "measure").map(_.id).toSet
    def under(id: Int): Boolean = id >= 0 &&
      (measured(id) || under(tr.spans(id).parent))
    val jobs = t.jobs.all.filter(j => under(tr.spanAt(j.startMs)))
    val progress = runs.flatMap(_._2)
    val queries = progress.map(_.queryId).toSet
    val batchJobs = t.jobs.all.filter(j => queries(j.queryId))
    val batchExecIds = batchJobs.map(_.executionId).toSet
    val execs = t.jobs.executions.filter(e => batchExecIds(e.id))
    def layerS(l: String) = execs.filter(_.layer == l).map(_.seconds).sum
    def execJobs(l: String) = {
      val ids = execs.filter(_.layer == l).map(_.id).toSet
      batchJobs.count(j => ids(j.executionId)).toDouble
    }
    def progS(k: String) = progress.map(_.ms(k)).sum / 1e3
    val dirs = runs.map(_._1)
    val destWrites = dirs.flatMap(c => t.writes.under(c.destDir))
      .drop(snapshotWrites)
    val rawWrites = dirs.flatMap(c => t.writes.under(c.rawDir))

    val decodeS = tr.spans.filter(s => s.name == "decode" && under(s.id))
      .map(_.seconds).sum
    val cutS = progS("latestOffset")
    val batchS = progS("addBatch")
    val overheadS = progS("triggerExecution") - batchS - cutS
    val attributed = Seq("raw", "normalize", "merge", "stats")
      .map(layerS).sum
    val rowsWritten = destWrites.map(_.rows).sum
    Map(
      "decode.s" -> decodeS,
      "decode.records" -> decodeRecords.toDouble,
      "decode.mb_in" -> decodeBytes / MB,
      "source.cut_s" -> cutS,
      "source.read_s" -> readS,
      "source.records" -> readRecords.toDouble,
      "raw.s" -> layerS("raw"),
      "raw.mb_written" -> rawWrites.map(_.bytes).sum / MB,
      "normalize.s" -> layerS("normalize"),
      "normalize.rows_in" -> rowsIn.toDouble,
      "normalize.rows_out" -> rowsOut.toDouble,
      "normalize.jobs_per_batch" ->
        execJobs("normalize") / math.max(1, progress.size),
      "merge.s" -> layerS("merge"),
      "merge.buckets_rewritten" -> destWrites.map(_.parts).sum.toDouble,
      "merge.rows_written" -> rowsWritten.toDouble,
      "merge.write_amp" -> rowsWritten.toDouble / math.max(1L, rowsOut),
      "merge.mb_written" -> destWrites.map(_.bytes).sum / MB,
      "stats.s" -> layerS("stats"),
      "stats.jobs" -> execJobs("stats"),
      "batch.s" -> batchS,
      "batch.jobs" -> batchJobs.size.toDouble,
      "batch.self_s" -> (batchS - attributed),
      "stream.overhead_s" -> overheadS,
      "spark.jobs" -> jobs.size.toDouble,
      "spark.tasks" -> jobs.map(_.tasks).sum.toDouble,
      "spark.shuffle_mb" -> jobs.map(_.shuffleBytes).sum / MB,
      "trace.change_s" -> changeS,
      "trace.coverage" ->
        (decodeS + cutS + batchS + overheadS) / math.max(changeS, 1e-9))
  }

  def snapshot(rows: Long, seconds: Double, writes: Seq[WriteRec]): Map[String, Double] = Map(
    "snapshot.s" -> seconds,
    "snapshot.rows_per_s" -> rows / seconds,
    "snapshot.mb_written" -> writes.map(_.bytes).sum / MB)

  /** Every per-layer metric name, so a workload that bypasses a layer
    * reports it as 0 rather than leaving it out. */
  val Names: Seq[String] = Seq(
    "decode.s", "decode.records", "decode.mb_in", "source.cut_s",
    "source.read_s", "source.records", "raw.s", "raw.mb_written",
    "normalize.s", "normalize.rows_in", "normalize.rows_out",
    "normalize.jobs_per_batch", "merge.s", "merge.buckets_rewritten",
    "merge.rows_written", "merge.write_amp", "merge.mb_written", "stats.s",
    "stats.jobs", "batch.s", "batch.jobs", "batch.self_s",
    "stream.overhead_s", "snapshot.s", "snapshot.rows_per_s",
    "snapshot.mb_written", "spark.jobs", "spark.tasks", "spark.shuffle_mb",
    "jvm.gc_s", "jvm.heap_peak_mb", "trace.change_s", "trace.coverage",
    "failed_frac")
}
