package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.RawTable

class MergeWriterSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", LongType),
    StructField(RawTable.Version, LongType),
    StructField(RawTable.IsDeleted, BooleanType),
    StructField(Normalizer.AbsentCols, ArrayType(StringType))))

  private def changes(rows: (Long, String, Any, Long, Boolean, Seq[String])*)
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toList.map { case (id, n, v, ver, del, abs) =>
      org.apache.spark.sql.Row(id, n, v, ver, del, abs)
    }.asJava, schema)
  }

  /** Keys 1..n inserted at version 1. */
  private def inserts(n: Int): DataFrame = changes((1 to n).map(i =>
    (i.toLong, s"n$i", i.toLong: Any, 1L, false, Seq.empty[String])): _*)

  private def state(w: MergeWriter): Map[Long, (String, Any, Long, Boolean)] =
    rows(w.read())

  private def rows(df: DataFrame): Map[Long, (String, Any, Long, Boolean)] =
    df.collect().map { r =>
      r.getAs[Long]("id") -> (r.getAs[String]("name"), r.get(r.fieldIndex("v")),
        r.getAs[Long](RawTable.Version), r.getAs[Boolean](RawTable.IsDeleted))
    }.toMap

  /** `df` holds exactly the rows of `want`: no key twice, none missing. */
  private def exactly(df: DataFrame,
      want: Map[Long, (String, Any, Long, Boolean)]): Unit = {
    assert(df.count() == want.size, "duplicate or missing keys")
    assert(rows(df) == want)
  }

  test("merge: insert, update, toast-coalesce, delete; idempotent replay") {
    val path = tmpDir("merge")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))

    w.merge(changes(
      (1L, "a", 10L, 100L, false, Nil),
      (2L, "b", 20L, 100L, false, Nil)))
    assert(state(w) == Map(
      1L -> ("a", 10L, 100L, false), 2L -> ("b", 20L, 100L, false)))

    val batch2 = changes(
      (1L, null, 11L, 200L, false, Seq("name")), // name absent → keep "a"
      (2L, null, null, 200L, true, Nil),         // delete
      (3L, "c", 30L, 200L, false, Nil))          // new key
    w.merge(batch2)
    val s2 = state(w)
    assert(s2(1L) == ("a", 11L, 200L, false))
    assert(s2(2L)._4 == true)
    assert(s2(3L) == ("c", 30L, 200L, false))

    // at-least-once: replaying the same batch must not change state
    w.merge(batch2)
    assert(state(w) == s2)

    // stale batch (older version) must not clobber
    w.merge(changes((1L, "stale", 1L, 50L, false, Nil)))
    assert(state(w)(1L) == ("a", 11L, 200L, false))
  }

  test("hard delete clears rows and empty buckets") {
    val path = tmpDir("merge-hard")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    w.merge(changes((1L, "a", 1L, 1L, false, Nil)), hardDelete = true)
    assert(w.read().count() == 1)
    w.merge(changes((1L, null, null, 2L, true, Nil)), hardDelete = true)
    assert(w.read().count() == 0)
  }

  test("only affected buckets are rewritten") {
    val path = tmpDir("merge-prune")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    withConf(OpenCost -> "1") {
      w.merge(inserts(200))
      w.merge(inserts(200)) // replay grows the table to 64 buckets
      assert(bucketMtimes(s"$path/t").size > 32)
      val before = bucketMtimes(s"$path/t")
      Thread.sleep(1100) // parquet mtime granularity
      w.merge(changes((1L, "x", 99L, 2L, false, Nil)))
      val after = bucketMtimes(s"$path/t")
      val changedBuckets =
        after.filter { case (b, t) => before.get(b) != Some(t) }
      assert(changedBuckets.size == 1, s"rewrote ${changedBuckets.keys}")
    }
    assert(state(w)(1L) == ("x", 99L, 2L, false))
    assert(state(w).size == 200)
  }

  test("a new small table is one bucket") {
    val path = tmpDir("merge-one")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    w.merge(inserts(200))
    w.merge(changes((1L, "x", 99L, 2L, false, Nil)))
    assert(bucketMtimes(s"$path/t").keySet == Set("_g_bucket=0"))
    assert(state(w).size == 200)
    assert(state(w)(1L) == ("x", 99L, 2L, false))
  }

  test("a table grows from one bucket to 64 once it outgrows the open cost") {
    val path = tmpDir("merge-grow")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    val rnd = new scala.util.Random(7)
    // incompressible payloads: the table's bytes track its row count
    def batch(from: Int, until: Int, version: Long) =
      (from until until).map(i => (i.toLong,
        rnd.alphanumeric.take(200).mkString, i.toLong: Any, version, false,
        Seq.empty[String]))
    var expected = Map.empty[Long, (String, Any, Long, Boolean)]
    def mergeAndCheck(b: Seq[(Long, String, Any, Long, Boolean,
        Seq[String])]): Int = {
      w.merge(changes(b: _*))
      expected ++= b.map(r => r._1 -> (r._2, r._3, r._4, r._5))
      assert(state(w) == expected)
      layoutCount(s"$path/t")
    }

    assert(mergeAndCheck(batch(0, 150, 1L)) == 1)
    // One bucket may hold a third more than the first merge wrote: the
    // second merge still fits and stays one bucket, the third starts from
    // twice that and writes the 64-bucket layout.
    val openCost = dataBytes(s"$path/t") * 4 / 3
    val counts = withConf(OpenCost -> openCost.toString) {
      Seq(
        mergeAndCheck(batch(150, 300, 2L)),
        // an update of every stored key plus new ones
        mergeAndCheck(batch(0, 300, 3L) ++ batch(300, 600, 3L)),
        mergeAndCheck(batch(600, 700, 4L)))
    }
    assert(counts == Seq(1, 64, 64), s"bytes ${dataBytes(s"$path/t")}")
    assert(new java.io.File(s"$path/t").list().count(
      _.startsWith("_g_bucket=")) > 32)
  }

  test("a growth cut short by a crash is finished or dropped on next use") {
    val path = tmpDir("merge-crash")
    val keys = spark.range(1, 121).toDF("id")
    val growing = changes((50 to 60).map(i =>
      (i.toLong, s"u$i", (i * 10).toLong, 2L, false, Seq.empty[String])): _*)
    withConf(OpenCost -> "1") {
      val small = s"$path/small"
      new MergeWriter(spark, small, Seq("id")).merge(inserts(100))
      val grown = s"$path/grown"
      copyTree(small, grown)
      new MergeWriter(spark, grown, Seq("id")).merge(growing)
      assert(layoutCount(small) == 1 && layoutCount(grown) == 64)
      // A steady merge at 64 that hard-deletes every key of one bucket.
      val emptied = rows(inserts(100)).keys.filter(at64(_) == at64(1L))
      val kept = (2L to 100L).find(at64(_) != at64(1L)).get
      val deleting = changes(emptied.toSeq.map(i =>
        (i, null, null, 3L, true, Seq.empty[String])) :+
        ((kept, "y", 7L: Any, 3L, false, Seq.empty[String])): _*)

      Seq((small, growing, false), (grown, deleting, true)).foreach {
        case (base, batch, hard) =>
          val old = state(new MergeWriter(spark, base, Seq("id")))
          val ref = s"$base-ref"
          copyTree(base, ref)
          val refWriter = new MergeWriter(spark, ref, Seq("id"))
          refWriter.merge(batch, hardDelete = hard)
          val merged = state(refWriter)
          assert(merged != old)
          Seq(MergeWriter.Written, MergeWriter.Committed,
              MergeWriter.Cleaned).foreach { step =>
            val t = s"$base-$step"
            copyTree(base, t)
            val w = new MergeWriter(spark, t, Seq("id"))
            w.stepHook = s => if (s == step) throw new Crash
            intercept[Crash](w.merge(batch, hardDelete = hard))
            // a new process reads the version the crash left committed
            val r = new MergeWriter(spark, t, Seq("id"))
            val want = if (step == MergeWriter.Written) old else merged
            exactly(r.read(), want)
            exactly(r.readForKeys(keys), want)
            // the stream replays the batch it never recorded as done
            r.merge(batch, hardDelete = hard)
            exactly(r.read(), merged)
            assert(storedFiles(t) == r.snapshot.get.files.values
              .flatMap(_.keySet).toSet, t)
            assert(bucketDirNames(t).map(_.stripPrefix("_g_bucket=").toInt)
              .toSet == r.snapshot.get.files.keySet, t)
          }
      }
    }
  }

  test("readers at every step of a merge see the last committed version") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val t = s"${tmpDir("merge-readers")}/t"
    val w = new MergeWriter(spark, t, Seq("id"))
    val keys = spark.range(1, 121).toDF("id")
    val growing = (50 to 60).map(i =>
      (i.toLong, s"u$i", (i * 10).toLong: Any, 2L, false, Seq.empty[String]))
    val steady = (1 to 5).map(i =>
      (i * 20L, s"s$i", i.toLong: Any, 3L, false, Seq.empty[String]))
    val emptied = rows(inserts(100)).keys.filter(at64(_) == at64(1L))
    val deleting = emptied.toSeq.map(i =>
      (i, null: String, null: Any, 4L, true, Seq.empty[String]))
    withConf(OpenCost -> "1") {
      w.merge(inserts(100))
      var expected = state(w)
      Seq((growing, false), (steady, false), (deleting, true)).foreach {
        case (batch, hard) =>
          val next = expected -- batch.filter(_._5).map(_._1) ++
            batch.filterNot(_._5).map(r => r._1 -> (r._2, r._3, r._4, r._5))
          val at = new java.util.concurrent.SynchronousQueue[MergeWriter.Step]
          val go = new java.util.concurrent.Semaphore(0)
          w.stepHook = s =>
            if (s != MergeWriter.Begin) { at.put(s); go.acquire() }
          val merging = Future(w.merge(changes(batch: _*), hardDelete = hard))
          Seq(MergeWriter.Written, MergeWriter.Committed,
              MergeWriter.Cleaned).foreach { step =>
            assert(at.poll(60, java.util.concurrent.TimeUnit.SECONDS) == step)
            val want = if (step == MergeWriter.Written) expected else next
            exactly(new MergeWriter(spark, t, Seq("id")).read(), want)
            exactly(w.read(), want)
            exactly(w.readForKeys(keys), want)
            go.release()
          }
          Await.result(merging, 60.seconds)
          w.stepHook = _ => ()
          expected = next
          // plain parquet readers see exactly the live rows
          exactly(spark.read.parquet(t).drop("_g_bucket"), expected)
      }
    }
    assert(layoutCount(t) == 64)

    // Reads of a 64-bucket table list nothing. Listing its directory
    // passes the 32-path parallel-discovery threshold and costs one more
    // job per read: 3 and 6 jobs when reads listed the table.
    val sc = spark.sparkContext
    val group = "merge-reader-jobs"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (js.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    def jobsOf(body: => Long): Int = {
      org.apache.spark.GraftListenerBus.drain(sc)
      jobs.set(0)
      sc.setJobGroup(group, group)
      try body finally sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.drain(sc)
      jobs.get()
    }
    sc.addSparkListener(l)
    val (readJobs, keyedJobs) = try (jobsOf(w.read().count()),
      jobsOf(w.readForKeys(spark.range(1, 21).toDF("id")).count()))
    finally sc.removeSparkListener(l)
    info(s"jobs: read().count() $readJobs, readForKeys(k).count() $keyedJobs")
    assert(readJobs <= 2 && keyedJobs <= 5)
  }

  test("hard deletes that empty the upper buckets leave a working layout") {
    val path = tmpDir("merge-shrink")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    withConf(OpenCost -> "1") {
      w.merge(inserts(200))
      w.merge(inserts(200)) // replay grows the table to 64 buckets
    }
    assert(layoutCount(s"$path/t") == 64)
    val at64 = spark.range(1, 301)
      .select(col("id"), pmod(hash(col("id")), lit(64)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val upper = (1L to 200L).filter(at64(_) >= 32)
    w.merge(changes(upper.map(i =>
      (i, null, null, 2L, true, Seq.empty[String])): _*), hardDelete = true)
    assert(layoutCount(s"$path/t") <= 32)
    var expected = rows(inserts(200)).filter(k => at64(k._1) < 32)
    assert(state(w) == expected)

    // A pruned merge at the smaller count: updates and new keys, some of
    // which hash to the upper half at 64.
    val batch = Seq((1L, "x", 99L: Any, 3L, false, Seq.empty[String])) ++
      (201L to 260L).map(i => (i, s"n$i", i: Any, 3L, false,
        Seq.empty[String]))
    w.merge(changes(batch: _*), hardDelete = true)
    expected ++= batch.map(r => r._1 -> (r._2, r._3, r._4, r._5))
    assert(state(w) == expected)
    val keys = spark.range(1, 301).toDF("id")
    assert(rows(w.readForKeys(keys)) == expected)

    // Growing back to 64 moves every key to its bucket at 64.
    withConf(OpenCost -> "1")(
      w.merge(changes((2L, "y", 7L, 4L, false, Nil)), hardDelete = true))
    expected += 2L -> ("y", 7L, 4L, false)
    assert(layoutCount(s"$path/t") == 64)
    assert(state(w) == expected)
    assert(rows(w.readForKeys(keys)) == expected)
  }

  test("replaying a growing merge leaves the same state and keyed reads") {
    val path = tmpDir("merge-replay")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    withConf(OpenCost -> "1") {
      w.merge(inserts(100))
      val keys = spark.range(1, 21).toDF("id")
      val keyed = rows(w.readForKeys(keys))
      assert(keyed.keySet == (1L to 20L).toSet)

      // grows one bucket to 64: every row moves, ids 50-60 change
      val growing = changes((50 to 60).map(i =>
        (i.toLong, s"u$i", (i * 10).toLong, 2L, i % 5 == 0,
          Seq.empty[String])): _*)
      w.merge(growing)
      val grown = state(w)
      assert(grown.size == 100)
      assert(grown(55L) == ("u55", 550L, 2L, true))
      assert(grown(56L) == ("u56", 560L, 2L, false))
      assert(grown(1L) == ("n1", 1L, 1L, false))
      val layout = bucketMtimes(s"$path/t").keySet
      assert(layout.size > 1 && layout.size <= 64)
      assert(rows(w.readForKeys(keys)) == keyed)

      // a crash after the merge commits, before the stream records the
      // batch, replays it
      w.merge(growing)
      assert(state(w) == grown)
      assert(bucketMtimes(s"$path/t").keySet == layout)
      assert(rows(w.readForKeys(keys)) == keyed)
    }
  }

  test("a table laid out in 64 buckets keeps 64") {
    val path = tmpDir("merge-legacy")
    // the fixed 64-bucket layout earlier writers left, written directly
    // (so without a schema file, like the oldest tables)
    inserts(200).drop(Normalizer.AbsentCols)
      .withColumn("_g_bucket", pmod(hash(col("id")), lit(64)))
      .write.partitionBy("_g_bucket").parquet(s"$path/t")
    val before = bucketMtimes(s"$path/t")
    assert(before.size > 32) // 200 keys leave a few of the 64 empty
    Thread.sleep(1100) // parquet mtime granularity
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    w.merge(changes((1L, "x", 99L, 2L, false, Nil),
      (1000L, "new", 1L, 2L, false, Nil)))
    // a pruned merge at 64 buckets: only the two keys' buckets change
    val keyBuckets = spark.range(1, 1001).filter(col("id").isin(1L, 1000L))
      .select(pmod(hash(col("id")), lit(64))).collect()
      .map(r => s"_g_bucket=${r.getInt(0)}").toSet
    val after = bucketMtimes(s"$path/t")
    assert(before.keySet.subsetOf(after.keySet))
    assert(after.filter { case (b, t) => before.get(b) != Some(t) }
      .keySet == keyBuckets)
    assert(state(w).size == 201)
    assert(state(w)(1L) == ("x", 99L, 2L, false))
  }

  private val OpenCost = "spark.sql.files.openCostInBytes"

  private class Crash extends RuntimeException("crash")

  /** Bucket of each of the keys 1-300 at 64 buckets. */
  private lazy val at64: Map[Long, Int] = spark.range(1, 301)
    .select(col("id"), pmod(hash(col("id")), lit(64)))
    .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap

  /** Data files under the bucket directories, relative to the table. */
  private def storedFiles(path: String): Set[String] =
    bucketDirNames(path).flatMap(b => new java.io.File(s"$path/$b").list()
      .filterNot(f => f.startsWith(".") || f.startsWith("_"))
      .map(f => s"$b/$f")).toSet

  private def bucketMtimes(path: String): Map[String, Long] = {
    val d = new java.io.File(path)
    d.listFiles().filter(_.getName.startsWith("_g_bucket=")).map { f =>
      f.getName -> f.listFiles().map(_.lastModified()).max
    }.toMap
  }

  /** Bytes of the parquet data files in the bucket directories. */
  private def dataBytes(path: String): Long =
    new java.io.File(path).listFiles()
      .filter(_.getName.startsWith("_g_bucket="))
      .flatMap(_.listFiles())
      .filter(f => !f.getName.startsWith(".") && !f.getName.startsWith("_"))
      .map(_.length()).sum

  private def bucketDirNames(path: String): Seq[String] =
    new java.io.File(path).list().filter(_.startsWith("_g_bucket="))
      .toSeq.sorted

  /** Bucket count the stored layout implies: the smallest power of two
    * above the highest bucket id. */
  private def layoutCount(path: String): Int = Integer.highestOneBit(
    bucketDirNames(path).map(_.stripPrefix("_g_bucket=").toInt).max * 2 + 1)

  private def copyTree(from: String, to: String): Unit = {
    val src = java.nio.file.Paths.get(from)
    val dst = java.nio.file.Paths.get(to)
    val all = java.nio.file.Files.walk(src)
    try all.forEach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(q)
      else java.nio.file.Files.copy(p, q)
    } finally all.close()
  }
}
