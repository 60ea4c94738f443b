package perfbench

import java.time.Instant

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One finished micro-batch as the streaming listener reports it. Times
  * are epoch milliseconds; `endMs` is when the trigger (and with it the
  * batch's destination commit) finished. */
final case class Progress(queryId: String, batchId: Long, rows: Long,
    endMs: Long, endCp: Long, durations: Map[String, Long]) {
  def ms(key: String): Long = durations.getOrElse(key, 0L)
}

/** Collects every streaming progress event. Used untraced too: it is the
  * benchmark's clock for when a batch became visible at the destination. */
final class ProgressLog extends StreamingQueryListener {
  private val events = mutable.ArrayBuffer.empty[Progress]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
      : Unit = ()
  override def onQueryTerminated(
      e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent)
      : Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val start = Instant.parse(p.timestamp).toEpochMilli
    val endCp = p.sources.headOption.map(_.endOffset)
      .filter(s => s != null && s.trim.nonEmpty && s.trim.head.isDigit)
      .map(_.trim.toLong).getOrElse(-1L)
    val ev = Progress(p.id.toString, p.batchId, p.numInputRows,
      start + d.getOrElse("triggerExecution", 0L), endCp, d)
    synchronized { events += ev; notifyAll() }
  }

  def of(queryId: String): Seq[Progress] =
    synchronized(events.filter(_.queryId == queryId).toSeq)

  /** Block until a batch of `queryId` has committed everything up to
    * checkpoint `cp`; None on timeout. */
  def awaitCp(queryId: String, cp: Long, timeoutMs: Long): Option[Progress] =
    synchronized {
      val deadline = System.currentTimeMillis() + timeoutMs
      def hit = events.find(p => p.queryId == queryId && p.endCp >= cp)
      var found = hit
      while (found.isEmpty && System.currentTimeMillis() < deadline) {
        wait(math.max(1L, deadline - System.currentTimeMillis()))
        found = hit
      }
      found
    }
}

/** One span: name, interval, and the span that was innermost-open when it
  * opened (-1 for none). */
final case class Span(id: Int, name: String, parent: Int, startMs: Long,
    startNs: Long, var endNs: Long = -1L, var endMs: Long = -1L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans kept in memory and read once at the end. Spans are opened only by
  * the benchmark's own thread, around calls into the program's layers. */
final class Tracer {
  private val all = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]

  def span[A](name: String)(f: => A): A = {
    val s = synchronized {
      val s = Span(all.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.currentTimeMillis(), System.nanoTime())
      all += s; open.push(s); s
    }
    try f
    finally synchronized {
      s.endNs = System.nanoTime(); s.endMs = System.currentTimeMillis()
      require(open.pop() eq s, s"span ${s.name} closed out of order")
    }
  }

  def spans: Seq[Span] = synchronized(all.toSeq)

  /** Innermost span whose interval holds `ms`; the outermost span when no
    * span does, so no job is ever left without one. */
  def spanAt(ms: Long): Int = {
    val holding = spans.filter(s => s.startMs <= ms &&
      (s.endMs < 0 || ms <= s.endMs))
    if (holding.nonEmpty) holding.maxBy(depth).id
    else spans.headOption.map(_.id).getOrElse(-1)
  }

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(all(s.parent))

  /** Span duration minus the time its direct children cover. */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.filter(_.parent == s.id).map(_.seconds).sum
}

/** A job with what the listener saw of it: the SQL execution it ran for
  * and the streaming query it belongs to ("" outside streams). */
final case class JobRec(id: Int, startMs: Long, queryId: String,
    executionId: Long, var tasks: Int = 0, var shuffleBytes: Long = 0L)

/** A SQL execution (one Dataset action): its interval and physical plan. */
final case class Exec(id: Long, startMs: Long, plan: String,
    var endMs: Long = -1L) {
  def seconds: Double = if (endMs < 0) 0.0 else (endMs - startMs) / 1e3
  def layer: String = JobLog.layerOf(plan)
}

/** Spark listener for the traced run: every SQL execution, job and task. */
final class JobLog extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val execs = mutable.LinkedHashMap.empty[Long, Exec]
  private val stageJob = mutable.HashMap.empty[Int, Int]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      execs(s.executionId) = Exec(s.executionId, s.time,
        s.physicalPlanDescription)
    }
    case s: SparkListenerSQLExecutionEnd => synchronized {
      execs.get(s.executionId).foreach(_.endMs = s.time)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p =>
      Option(p.getProperty(k)))
    jobs(e.jobId) = JobRec(e.jobId, e.time,
      prop("sql.streaming.queryId").getOrElse(""),
      prop("spark.sql.execution.id").map(_.toLong).getOrElse(-1L))
    e.stageIds.foreach(stageJob(_) = e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageJob.get(e.stageId).flatMap(jobs.get).foreach { j =>
      j.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def all: Seq[JobRec] = synchronized(jobs.values.toSeq)
  def executions: Seq[Exec] = synchronized(execs.values.toSeq)
}

object JobLog {
  /** The mirror layer a SQL execution inside a micro-batch serves, from
    * its physical plan. Every mirror of the benchmark keeps its raw table
    * under `<base>/raw` and its destination under `<base>/dest`: `raw` is
    * the raw-table write, `merge` the destination write and the
    * MergeWriter's bucket probes (they read its `_g_bucket` column),
    * `stats` the replication-stats aggregates, `normalize` the one-row
    * emptiness probe over the normalize window; `batch` is the stream's
    * own execution of the micro-batch, which encloses all of these;
    * anything else is the batch's own work. */
  def layerOf(plan: String): String = {
    val write = plan.contains("InsertIntoHadoopFsRelationCommand")
    if (write && plan.contains("/raw, ")) "raw"
    else if (write && plan.contains("/dest, ")) "merge"
    else if (plan.contains("inserts_count") ||
      (plan.contains("max(checkpointId") &&
        plan.contains("min(commitTimeMicros"))) "stats"
    else if (plan.contains("_g_bucket")) "merge"
    else if (plan.contains("CollectLimit") && plan.contains("Window"))
      "normalize"
    else if (plan.contains("MicroBatchScan")) "batch"
    else "self"
  }
}

/** One file write: output directory, partition directories written,
  * rows and bytes. */
final case class WriteRec(path: String, parts: Long, rows: Long,
    bytes: Long)

/** Query-execution listener for the traced run: rows, bytes and partition
  * directories of every parquet write. Registered before any stream
  * starts, so the sessions streams clone carry it. */
final class WriteLog extends QueryExecutionListener
    with AdaptiveSparkPlanHelper {
  private val writes = mutable.ArrayBuffer.empty[WriteRec]

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = {
    val found = collect(qe.executedPlan) {
      case d: DataWritingCommandExec => d.cmd
    }.collect { case c: InsertIntoHadoopFsRelationCommand =>
      def m(k: String) = c.metrics.get(k).map(_.value).getOrElse(0L)
      WriteRec(c.outputPath.toUri.getPath.stripSuffix("/"),
        m("numParts"), m("numOutputRows"), m("numOutputBytes"))
    }
    synchronized { writes ++= found }
  }
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()

  def under(dir: String): Seq[WriteRec] =
    synchronized(writes.filter(_.path == dir).toSeq)
}

/** Listener registration for the traced run, plus a drain of the
  * asynchronous listener bus so every event is counted before reporting. */
final class TraceSession(spark: SparkSession) {
  val tracer = new Tracer
  val jobs = new JobLog
  val writes = new WriteLog
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(writes)

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
