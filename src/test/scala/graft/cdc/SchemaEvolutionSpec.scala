package graft.cdc

import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.RawTable
import graft.types.QKind

class SchemaEvolutionSpec extends SparkSpec {

  private val v1 = StructType(Seq(
    StructField("id", LongType), StructField("v", LongType)))

  test("diff detects added columns only (drops retained)") {
    val observed = StructType(Seq(
      StructField("id", LongType), StructField("extra", StringType)))
    val delta = SchemaEvolution.diff("s.t", "d.t", v1, observed).get
    assert(delta.addedColumns == Seq(AddedColumn("extra", QKind.QString)))
    assert(SchemaEvolution.diff("s.t", "d.t", v1, v1).isEmpty)
  }

  test("widened schema: old rows normalize with NULL for the new column") {
    import scala.jdk.CollectionConverters._
    val delta = TableSchemaDelta("s.t", "d.t",
      Seq(AddedColumn("extra", QKind.QString)))
    val widened = SchemaEvolution.apply(v1, delta)

    val raw = spark.createDataFrame(List(
      org.apache.spark.sql.Row("u1", 1L, "d", """{"id":1,"v":10}""",
        0, null, 0L, ""),
      org.apache.spark.sql.Row("u2", 2L, "d",
        """{"id":2,"v":20,"extra":"x"}""", 0, null, 0L, "")).asJava,
      RawTable.schema)
    val out = Normalizer.normalize(raw, NormalizeConfig(Seq("id"), widened))
      .collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("extra"))
      .toMap
    assert(out == Map(1L -> null, 2L -> "x"))
  }

  test("live mirror survives an ADD COLUMN between merges") {
    import spark.implicits._
    val dest = tmpDir("evolvedest")
    // Batch 1 lands with schema v1 …
    val w = new MergeWriter(spark, dest, Seq("id"))
    w.merge(Seq((1L, 10L, 100L, false))
      .toDF("id", "v", RawTable.Version, RawTable.IsDeleted)
      .withColumn(Normalizer.AbsentCols,
        org.apache.spark.sql.functions.array()
          .cast("array<string>")))

    // … an ALTER widens the payload, and batch 2 carries the new column.
    // Before alignFrame was wired in, this threw (dst.extra unresolved).
    w.merge(Seq((2L, 20L, "x", 200L, false))
      .toDF("id", "v", "extra", RawTable.Version, RawTable.IsDeleted)
      .withColumn(Normalizer.AbsentCols,
        org.apache.spark.sql.functions.array()
          .cast("array<string>")))

    val out = w.read().collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("extra")).toMap
    assert(out == Map(1L -> null, 2L -> "x")) // old row null-backfilled

    // Batch 3 arrives from a NARROWER writer (column dropped upstream):
    // the destination retains `extra` instead of dropping or nulling id=2.
    w.merge(Seq((3L, 30L, 300L, false), (2L, 22L, 300L, false))
      .toDF("id", "v", RawTable.Version, RawTable.IsDeleted)
      .withColumn(Normalizer.AbsentCols,
        org.apache.spark.sql.functions.array()
          .cast("array<string>")))
    val out3 = w.read().collect()
      .map(r => (r.getAs[Long]("id"),
        (r.getAs[Long]("v"), r.getAs[String]("extra")))).toMap
    assert(out3 == Map(
      1L -> ((10L, null)), 2L -> ((22L, "x")), 3L -> ((30L, null))))
  }

  test("widened column survives merges that only touch narrow buckets") {
    import org.apache.spark.sql.functions.{array, col, hash, pmod, lit}
    import spark.implicits._
    val dest = tmpDir("narrowbucket")
    val w = new MergeWriter(spark, dest, Seq("id"))
    def noAbsent(df: org.apache.spark.sql.DataFrame) =
      df.withColumn(Normalizer.AbsentCols, array().cast("array<string>"))

    // A one-byte open cost grows the table to 64 buckets on its
    // second merge. Pick ids landing in DIFFERENT buckets there so the
    // widening batch leaves a narrow-era parquet file behind in the other
    // bucket; id2's bucket is in the upper half so the stored layout reads
    // as 64 buckets (no further growth rewrites id1's bucket).
    val n = MergeWriter.MaxBuckets
    val buckets = spark.range(1, 40)
      .select(col("id"), pmod(hash(col("id")), lit(n)).as("b"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val id1 = buckets.collectFirst { case (i, b) if b < n / 2 => i }.get
    val id2 = buckets.collectFirst { case (i, b) if b >= n / 2 => i }.get

    withConf("spark.sql.files.openCostInBytes" -> "1") {
      val narrow = noAbsent(
        Seq((id1, 10L, 100L, false), (id2, 20L, 100L, false))
          .toDF("id", "v", RawTable.Version, RawTable.IsDeleted))
      w.merge(narrow) // new table: one bucket
      w.merge(narrow) // replay grows it to 64 buckets, both still narrow
      assert(new java.io.File(dest).list()
        .count(_.startsWith("_g_bucket=")) == 2)
      // ADD COLUMN batch touches ONLY id2's bucket: id1's bucket keeps its
      // narrow footer. Schema inference from that footer alone would hide
      // `extra` from every later merge.
      w.merge(noAbsent(Seq((id2, 21L, "x", 200L, false))
        .toDF("id", "v", "extra", RawTable.Version, RawTable.IsDeleted)))
      // A narrow batch rewriting BOTH buckets must retain id2's `extra`.
      w.merge(noAbsent(Seq((id1, 11L, 300L, false), (id2, 22L, 300L, false))
        .toDF("id", "v", RawTable.Version, RawTable.IsDeleted)))
    }

    val out = w.read().collect()
      .map(r => (r.getAs[Long]("id"),
        (r.getAs[Long]("v"), r.getAs[String]("extra")))).toMap
    assert(out == Map(id1 -> ((11L, null)), id2 -> ((22L, "x"))))
  }

  test("ALTER DDL and frame alignment") {
    val delta = TableSchemaDelta("s.t", "pub.dst",
      Seq(AddedColumn("extra", QKind.QNumeric(20, 4))))
    assert(SchemaEvolution.alterTableSql(delta) == Seq(
      """ALTER TABLE pub.dst ADD COLUMN IF NOT EXISTS "extra" DECIMAL(20,4)"""))

    import spark.implicits._
    val df = Seq((1L, 2L)).toDF("id", "v")
    val aligned = SchemaEvolution.alignFrame(df,
      StructType(v1.fields :+ StructField("extra", StringType)))
    assert(aligned.columns.toSeq == Seq("id", "v", "extra"))
    assert(aligned.collect().head.isNullAt(2))
  }
}
