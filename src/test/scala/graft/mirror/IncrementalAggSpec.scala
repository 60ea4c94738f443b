package graft.mirror

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.cdc.{MergeWriter, Normalizer}
import graft.model.RawTable

/** Differential proof of the incremental view: after every applyBatch the
  * maintained (group → cnt, sum) state equals the full recompute over the
  * destination — under inserts, value updates, GROUP-MOVING updates, soft
  * deletes, TOAST-absent value columns, idempotent replays, and a seeded
  * random interleaving of all of the above. */
class IncrementalAggSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("grp", StringType),
    StructField("v", LongType),
    StructField(RawTable.Version, LongType),
    StructField(RawTable.IsDeleted, BooleanType),
    StructField(Normalizer.AbsentCols, ArrayType(StringType))))

  private def changes(rows: (Long, String, Any, Long, Boolean, Seq[String])*)
      : DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.toList.map { case (id, g, v, ver, del, abs) =>
      org.apache.spark.sql.Row(id, g, v, ver, del, abs)
    }.asJava, schema)
  }

  // sum_v read boxed: getAs[Long] would unbox NULL to 0 and hide a
  // 0-vs-NULL divergence between view and recompute
  private def viewOf(df: DataFrame): Map[String, (Long, Option[Long])] =
    df.collect().map(r => Option(r.getAs[String]("grp")).orNull ->
      (r.getAs[Long]("cnt"),
        Option(r.get(r.fieldIndex("sum_v")))
          .map(_.asInstanceOf[Long]))).toMap

  // A one-byte open cost grows every destination to 64 buckets on
  // its second merge: the first merge of each case reads one bucket, the
  // later ones read the key-pruned buckets of a 64-bucket layout.
  private val OpenCost = "spark.sql.files.openCostInBytes"
  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.conf.set(OpenCost, "1")
  }
  override def afterAll(): Unit =
    try spark.conf.unset(OpenCost) finally super.afterAll()

  private def assertSynced(agg: IncrementalAgg, w: MergeWriter): Unit =
    assert(viewOf(agg.read()) == viewOf(agg.recompute(w)))

  test("insert/update/group-move/soft-delete/toast/replay stay synced") {
    val path = tmpDir("iagg")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    val agg = new IncrementalAgg(spark, s"$path/agg", "grp", "v", Seq("id"))

    agg.applyBatch(w, changes(
      (1L, "a", 10L, 100L, false, Nil),
      (2L, "a", 20L, 100L, false, Nil),
      (3L, "b", 5L, 100L, false, Nil)))
    assertSynced(agg, w)
    assert(viewOf(agg.read()) ==
      Map("a" -> (2L, Some(30L)), "b" -> (1L, Some(5L))))

    // value update, group-moving update, soft delete, new key
    val b2 = changes(
      (1L, "a", 11L, 200L, false, Nil),  // value 10 → 11
      (2L, "b", 20L, 200L, false, Nil),  // a → b group move
      (3L, null, null, 200L, true, Nil), // soft delete
      (4L, "c", 7L, 200L, false, Nil))
    agg.applyBatch(w, b2)
    assertSynced(agg, w)
    assert(viewOf(agg.read()) == Map("a" -> (1L, Some(11L)),
      "b" -> (1L, Some(20L)), "c" -> (1L, Some(7L))))

    // idempotent replay: before == after ⇒ zero delta
    agg.applyBatch(w, b2)
    assertSynced(agg, w)
    assert(viewOf(agg.read()) == Map("a" -> (1L, Some(11L)),
      "b" -> (1L, Some(20L)), "c" -> (1L, Some(7L))))

    // TOAST-absent value column: the stored v must keep counting
    agg.applyBatch(w, changes(
      (4L, "c", null, 300L, false, Seq("v"))))
    assertSynced(agg, w)
    assert(viewOf(agg.read())("c") == (1L, Some(7L)))

    // genuinely-null value (NOT toast-absent): counts a row, adds 0 to
    // the sum — and a group of ONLY null-valued rows reports sum_v = 0
    // in view AND recompute (the documented convention)
    agg.applyBatch(w, changes(
      (5L, "d", null, 400L, false, Nil)))
    assertSynced(agg, w)
    assert(viewOf(agg.read())("d") == (1L, Some(0L)))
  }

  test("crash between merge and fold cannot lose or double-fold a batch") {
    val path = tmpDir("iagg-crash")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    val agg = new IncrementalAgg(spark, s"$path/agg", "grp", "v", Seq("id"))

    agg.applyBatch(w, changes(
      (1L, "a", 10L, 100L, false, Nil),
      (2L, "b", 5L, 100L, false, Nil)), batchId = Some(1L))
    assertSynced(agg, w)

    // Simulate the crash window: batch 2's before-image was staged and
    // its MERGE committed, but the driver died before the view folded.
    val b2 = changes(
      (1L, "a", 99L, 200L, false, Nil),  // update 10 → 99
      (3L, "b", 7L, 200L, false, Nil))   // new key
    agg.stageBeforeImage(w, b2, 2L)
    w.merge(b2)
    // view is now BEHIND the destination — the exact state a replay sees
    assert(viewOf(agg.read()) != viewOf(agg.recompute(w)))

    // foreachBatch replay: the fold reads the STAGED pre-merge image (a
    // live read would see before == after and fold a zero delta)
    agg.applyBatch(w, b2, batchId = Some(2L))
    assertSynced(agg, w)
    assert(viewOf(agg.read()) ==
      Map("a" -> (1L, Some(99L)), "b" -> (2L, Some(12L))))

    // replay AFTER the pointer commit: fold skipped, nothing double-counts
    agg.applyBatch(w, b2, batchId = Some(2L))
    assertSynced(agg, w)
    assert(viewOf(agg.read()) ==
      Map("a" -> (1L, Some(99L)), "b" -> (2L, Some(12L))))
  }

  test("mirror-integrated view stays synced across stream batches") {
    import graft.cdc.ChangeLogWal
    import graft.model.ChangeRecord
    val base = tmpDir("iagg-mirror")
    val cfg = MirrorConfig(
      walDir = s"$base/wal", rawDir = s"$base/raw",
      destDir = s"$base/dest", checkpointDir = s"$base/ckpt",
      pkColumns = Seq("id"),
      payloadSchema = StructType(Seq(
        StructField("id", LongType), StructField("grp", StringType),
        StructField("v", LongType))),
      maxBatchSize = 2, // force multiple micro-batches per drain
      aggViews = Map("dest" -> AggViewConfig("grp", "v", s"$base/agg")))

    ChangeLogWal.append(s"$base/wal", Seq(
      ChangeRecord(0, 1, "1", 1000, 1, "t", "dest",
        """{"id":1,"grp":"a","v":10}""", null, Nil),
      ChangeRecord(0, 2, "2", 2000, 2, "t", "dest",
        """{"id":2,"grp":"a","v":20}""", null, Nil),
      ChangeRecord(0, 3, "3", 3000, 3, "t", "dest",
        """{"id":3,"grp":"b","v":5}""", null, Nil),
      ChangeRecord(1, 4, "4", 4000, 4, "t", "dest",
        """{"id":2,"grp":"b","v":21}""", null, Nil))) // group move
    new MirrorRunner(spark, cfg).runAvailableNow()

    val w = new graft.cdc.MergeWriter(spark, s"$base/dest", Seq("id"))
    val agg = new IncrementalAgg(spark, s"$base/agg", "grp", "v",
      Seq("id"))
    assertSynced(agg, w)
    assert(viewOf(agg.read()) ==
      Map("a" -> (1L, Some(10L)), "b" -> (2L, Some(26L))))

    // second drain: delete + insert land through the stream as well
    ChangeLogWal.append(s"$base/wal", Seq(
      ChangeRecord(2, 5, "5", 5000, 5, "t", "dest", null,
        """{"id":1}""", Nil),
      ChangeRecord(0, 6, "6", 6000, 6, "t", "dest",
        """{"id":4,"grp":"c","v":7}""", null, Nil)))
    new MirrorRunner(spark, cfg).runAvailableNow()
    assertSynced(agg, w)
    assert(viewOf(agg.read()) ==
      Map("b" -> (2L, Some(26L)), "c" -> (1L, Some(7L))))
  }

  test("random interleaving stays synced after every batch") {
    val path = tmpDir("iagg-rand")
    val w = new MergeWriter(spark, s"$path/t", Seq("id"))
    val agg = new IncrementalAgg(spark, s"$path/agg2", "grp", "v", Seq("id"))
    val rnd = new scala.util.Random(4242)
    val groups = Vector("g0", "g1", "g2", "g3")
    val live = scala.collection.mutable.Set.empty[Long]
    var version = 1000L

    (1 to 5).foreach { _ =>
      version += 1
      val keys = rnd.shuffle((1L to 30L).toList).take(12)
      val rows = keys.map { k =>
        val op = rnd.nextInt(10)
        if (op < 2 && live(k)) { // soft delete
          live -= k
          (k, null: String, null: Any, version, true, Seq.empty[String])
        } else if (op < 4 && live(k)) { // TOAST-absent value update
          (k, groups(rnd.nextInt(4)), null: Any, version, false, Seq("v"))
        } else { // insert or full update (group-moving, sometimes null v)
          live += k
          val v: Any =
            if (rnd.nextInt(10) == 0) null else rnd.nextInt(100).toLong
          (k, groups(rnd.nextInt(4)), v, version, false,
            Seq.empty[String])
        }
      }
      agg.applyBatch(w, changes(rows: _*))
      assertSynced(agg, w)
    }
  }
}
