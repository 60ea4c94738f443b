package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs in: `local[n]` with n from
  * SPARK_GRAFT_CPUS (default: the processors this JVM may use), as many
  * shuffle partitions, and all scratch space under the run's work dir. */
object Session {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def create(work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Runs one workload and prints one `PERFBENCH_RESULT {json}` line:
  * gate counts, the end-to-end metrics, the per-layer metrics (traced
  * runs) and the run's environment. `perfbench/run.py` builds, launches
  * and post-processes this.
  *
  * Usage: `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir>` */
object Main {
  /** Workload sizes, chosen so a run holds several units of work at
    * 4 cores. `mirror_bulk`: a 40,000-record drain (4 batches) takes
    * 12-16 s, nearly all of it fixed per-batch cost, so a run measures at
    * least two drains. `mirror_trickle`: a table large enough that
    * rewriting all 64 buckets per batch shows in the batch time (~3.5 s a
    * batch, about eight batches a run). */
  val BulkTxs = 40000
  val TrickleRows = 20000

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def opt(k: String) = opts.getOrElse(k,
      throw new IllegalArgumentException(s"missing --$k"))
    val work = Paths.get(opt("work")).toAbsolutePath
    Files.createDirectories(work)
    val spark = Session.create(work)
    // session start: JVM launch to a ready session
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val traced = opt("trace") == "1"
    val trace = if (traced) Some(new TraceSession(spark)) else None
    val ctx = Ctx(spark, opt("seed").toLong, opt("seconds").toDouble, work,
      progress, trace, sessionS)
    val out = trace.fold(run(opt("workload"), ctx))(
      _.tracer.span("run")(run(opt("workload"), ctx)))
    val failedFrac = out.failed.toDouble / math.max(1L, out.attempted)
    val layers = Layers.Names.map(n =>
      n -> (out.layers + ("failed_frac" -> failedFrac)).getOrElse(n, 0.0))
    println("PERFBENCH_RESULT " + Json(Map(
      "correct" -> (out.failed == 0),
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "end_to_end" -> out.endToEnd,
      "per_layer" -> (if (traced) layers.toMap else Map.empty),
      "details" -> (out.details + ("phases_s" -> ctx.phases)),
      "env" -> Map(
        "cpus" -> Session.cpus,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "scala" -> scala.util.Properties.versionNumberString))))
    spark.stop()
  }

  def run(workload: String, ctx: Ctx): Outcome = workload match {
    case "mirror_bulk" =>
      Workloads.mirrorBulk(ctx, Workloads.BulkSize(BulkTxs))
    case "mirror_trickle" =>
      Workloads.mirrorTrickle(ctx, Workloads.TrickleSize(TrickleRows))
    case other => throw new IllegalArgumentException(
      s"unknown workload $other")
  }
}
