package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.cdc.{ChangeLogWal, PgOutputFrames}

/** One local session for the harness's own tests; scratch space under
  * `work/test` of the benchmark directory. */
object BenchSpec {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[2]").appName("perfbench-test")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", dir("spark-local").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  lazy val progress: ProgressLog = {
    val p = new ProgressLog; spark.streams.addListener(p); p
  }

  def dir(prefix: String): Path = {
    val root = Paths.get("work", "test").toAbsolutePath
    Files.createDirectories(root)
    Files.createTempDirectory(root, prefix)
  }

  def ctx(trace: Option[TraceSession] = None): Ctx =
    Ctx(spark, 11L, 0.0, dir("run"), progress, trace)

  def bytes(dir: Path): Seq[(String, Seq[Byte])] =
    Files.list(dir).toArray.map(_.asInstanceOf[Path]).sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq).toSeq
}

class InputsSpec extends AnyFunSuite {
  import BenchSpec._

  private def capture(seed: Long): (Path, Path) = {
    val cap = dir("cap")
    Inputs.writeCapture(cap, seed, 500)
    val wal = dir("wal")
    PgOutputFrames.ingest(cap.toString, wal.toString)
    (cap, wal)
  }

  private def trickleWal(seed: Long): Path = {
    val gen = new Inputs.Trickle(seed, 100, keys = 8)
    val (wal, stage) = (dir("twal"), dir("stage"))
    (1 to 3).foreach(_ => Inputs.publish(wal, stage, gen.nextBatch()))
    wal
  }

  private val Id = "\"id\":(\\d+)".r

  /** Key of every WAL record, in WAL order. */
  private def keys(wal: Path): Seq[Long] =
    ChangeLogWal.read(wal.toString, -1L, Long.MaxValue).map { f =>
      Id.findFirstMatchIn(f(6) + f(7)).get.group(1).toLong
    }

  test("the same seed gives byte-identical capture and WAL") {
    val (c1, w1) = capture(7)
    val (c2, w2) = capture(7)
    assert(bytes(c1) == bytes(c2))
    assert(bytes(w1) == bytes(w2))
    assert(bytes(trickleWal(7)) == bytes(trickleWal(7)))
  }

  test("a different seed changes the key order") {
    val (_, w1) = capture(7)
    val (_, w2) = capture(8)
    assert(keys(w1) != keys(w2))
    assert(keys(w1).sorted == keys(w2).sorted) // same keys, other order
    assert(keys(trickleWal(7)) != keys(trickleWal(8)))
  }

  test("weighted quantiles count every record once") {
    val s = Seq((1.0, 1L), (2.0, 8L), (9.0, 1L))
    assert(Stats.quantile(s, 0.5) == 2.0)
    assert(Stats.quantile(s, 0.9) == 2.0)
    assert(Stats.quantile(s, 0.95) == 9.0)
    assert(Stats.median(Seq(3.0, 1.0, 2.0, 10.0)) == 2.5)
  }
}

class FoldSpec extends AnyFunSuite {
  import BenchSpec._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("id", "name", "v").collect().map(r =>
      r.getLong(0) -> Inputs.Row(r.getString(1), r.getLong(2))).toMap

  test("the bulk fold equals a tiny real mirror drain") {
    val c = ctx()
    val cap = dir("cap")
    val expected = Inputs.writeCapture(cap, 5, 401)
    val d = Workloads.drain(c, c.dir("drain"), cap,
      Workloads.BulkSize(401, batches = 3))
    assert(d.records == 401 && d.batches.size == 3)
    assert(rows(d.runner.destination()) == expected)
  }

  test("the trickle fold equals a tiny real continuous mirror") {
    val c = ctx()
    val gen = new Inputs.Trickle(5, 300, keys = 15)
    val base = c.dir("mirror")
    val runner = new graft.mirror.MirrorRunner(spark,
      Workloads.mirrorConfig(base, base.resolve("wal"), 250000,
        stats = true))
    runner.bootstrapSnapshot(spark.createDataFrame(gen.snapshot)
      .toDF("id", "name", "v"))
    val (samples, records, _, lost, _) = Workloads.trickleLoop(c, runner,
      base.resolve("wal"), c.dir("stage"), gen, 0, batches = 3 to 3)
    assert(lost == 0 && samples.size == 3 && records > 0)
    assert(rows(runner.destination()) == gen.expected)
  }
}

class TraceSpec extends AnyFunSuite {
  import BenchSpec._

  private def selfTimesNonNegative(t: Tracer): Unit =
    t.spans.foreach { s =>
      assert(s.endNs >= s.startNs, s.name)
      assert(t.selfSeconds(s) >= 0, s"${s.name} children exceed it")
      if (s.parent >= 0) {
        val p = t.spans(s.parent)
        assert(p.startNs <= s.startNs && s.endNs <= p.endNs, s.name)
      }
    }

  test("child spans never exceed their parent") {
    val t = new Tracer
    t.span("root") {
      t.span("a")(Thread.sleep(5))
      t.span("b") { t.span("b1")(Thread.sleep(2)); Thread.sleep(2) }
    }
    assert(t.spans.map(_.name) == Seq("root", "a", "b", "b1"))
    assert(t.spans.map(_.parent) == Seq(-1, 0, 0, 2))
    selfTimesNonNegative(t)
  }

  test("a traced run assigns every job and attributes no more than the " +
    "batch") {
    val trace = new TraceSession(spark)
    val started = new java.util.concurrent.atomic.AtomicInteger
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          started.incrementAndGet()
      })
    val out = trace.tracer.span("run")(Workloads.mirrorBulk(
      ctx(Some(trace)), Workloads.BulkSize(600, batches = 3)))
    trace.drain()
    assert(out.failed == 0, out.details)
    selfTimesNonNegative(trace.tracer)
    val jobs = trace.jobs.all
    assert(jobs.size == started.get, "a job was dropped")
    assert(jobs.forall(j => trace.tracer.spanAt(j.startMs) >= 0))
    assert(out.layers("batch.jobs") > 0)
    assert(out.layers("batch.self_s") >= 0)
    assert(out.layers("merge.rows_written") > 0)
    assert(out.layers("normalize.rows_out") > 0)
  }
}
