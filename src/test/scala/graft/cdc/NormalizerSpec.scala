package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.model.RawTable

/** Normalize semantics per the reference's e2e scenarios (FIXTURES.md §4):
  * latest-wins dedup, soft delete, TOAST absent-vs-null, PK-change. */
class NormalizerSpec extends SparkSpec {

  private val payloadSchema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", LongType)))
  private val cfg = NormalizeConfig(Seq("id"), payloadSchema)

  private def raw(rows: (Long, Int, String, String, String)*): DataFrame = {
    // (version, rtype, data, matchData, toastCols)
    import scala.jdk.CollectionConverters._
    val data = rows.toList.map { case (ver, rt, d, m, t) =>
      org.apache.spark.sql.Row(
        f"uid$ver%09d", ver, "dest", d, rt, m, 0L, t)
    }
    spark.createDataFrame(data.asJava, RawTable.schema)
  }

  private def byId(df: DataFrame): Map[Long, org.apache.spark.sql.Row] =
    df.collect().map(r => r.getAs[Long]("id") -> r).toMap

  test("insert then update then delete of one key: latest wins, soft delete") {
    val out = Normalizer.normalize(raw(
      (1L, 0, """{"id":1,"name":"a","v":10}""", null, ""),
      (2L, 1, """{"id":1,"name":"b","v":20}""", """{"id":1}""", ""),
      (3L, 2, null, """{"id":1}""", ""),
      (1L, 0, """{"id":2,"name":"x","v":5}""", null, "")), cfg)
    val m = byId(out)
    assert(m.size == 2)
    assert(m(1L).getAs[Boolean](RawTable.IsDeleted))
    assert(m(1L).getAs[Long](RawTable.Version) == 3L)
    assert(!m(2L).getAs[Boolean](RawTable.IsDeleted))
    assert(m(2L).getAs[String]("name") == "x")
  }

  test("TOAST: absent column backfills within batch; null stays null") {
    val out = Normalizer.normalize(raw(
      (1L, 0, """{"id":1,"name":"big","v":10}""", null, ""),
      // name is ABSENT (unchanged TOAST) → keeps "big"
      (2L, 1, """{"id":1,"v":20}""", """{"id":1}""", "name"),
      // v explicitly null, not in toast list → real null
      (3L, 1, """{"id":1,"name":"z","v":null}""", """{"id":1}""", "")), cfg)
    val m = byId(out)
    assert(m(1L).getAs[String]("name") == "z")
    assert(m(1L).isNullAt(m(1L).fieldIndex("v")))
    // intermediate check: after record 2 name was backfilled to "big" —
    // verify by normalizing only the first two records
    val mid = byId(Normalizer.normalize(raw(
      (1L, 0, """{"id":1,"name":"big","v":10}""", null, ""),
      (2L, 1, """{"id":1,"v":20}""", """{"id":1}""", "name")), cfg))
    assert(mid(1L).getAs[String]("name") == "big")
    assert(mid(1L).getAs[Long]("v") == 20L)
  }

  test("TOAST column with no in-batch value stays absent for merge") {
    val out = Normalizer.normalize(raw(
      (5L, 1, """{"id":7,"v":70}""", """{"id":7}""", "name")), cfg)
    val r = out.collect().head
    assert(r.getSeq[String](r.fieldIndex(Normalizer.AbsentCols))
      == Seq("name"))
  }

  test("PK-changing update synthesizes old-key delete at version-1") {
    val out = Normalizer.normalize(raw(
      (1L, 0, """{"id":1,"name":"a","v":10}""", null, ""),
      (7L, 1, """{"id":2,"name":"a","v":10}""", """{"id":1}""", "")), cfg)
    val m = byId(out)
    assert(m.size == 2)
    assert(m(1L).getAs[Boolean](RawTable.IsDeleted))
    assert(m(1L).getAs[Long](RawTable.Version) == 6L) // version − 1
    assert(!m(2L).getAs[Boolean](RawTable.IsDeleted))
    assert(m(2L).getAs[Long](RawTable.Version) == 7L)
  }

  test("sourceSchemaColumn: _peerdb_source_schema extracts from the " +
    "embedded JSON key — deletes take it from the match image, a " +
    "record without the key reads '' (the many-to-one disambiguator, " +
    "PEERDB_SOURCE_SCHEMA_AS_DESTINATION_COLUMN)") {
    val out = Normalizer.normalize(raw(
      (1L, 0,
        """{"_peerdb_source_schema":"sales","id":1,"name":"a","v":1}""",
        null, ""),
      (1L, 0,
        """{"_peerdb_source_schema":"ops","id":2,"name":"b","v":2}""",
        null, ""),
      (2L, 2, null, """{"_peerdb_source_schema":"ops","id":2}""", ""),
      (1L, 0, """{"id":3,"name":"c","v":3}""", null, "")),
      cfg.copy(sourceSchemaColumn = true))
    val m = byId(out)
    assert(m(1L).getAs[String](Normalizer.SourceSchemaCol) == "sales")
    assert(m(2L).getAs[String](Normalizer.SourceSchemaCol) == "ops")
    assert(m(2L).getAs[Boolean](RawTable.IsDeleted))
    assert(m(3L).getAs[String](Normalizer.SourceSchemaCol) == "")
    // off (the default): no such column
    val off = Normalizer.normalize(raw(
      (1L, 0, """{"id":1,"name":"a","v":1}""", null, "")), cfg)
    assert(!off.columns.contains(Normalizer.SourceSchemaCol))
  }

  test("sourceSchemaColumn is part of the KEY: two schemas sharing a " +
    "pk value stay distinct rows (the reference PREPENDS the column " +
    "to the RMT ORDER BY, normalize.go:250 — ranking by pk alone " +
    "would collapse exactly the many-to-one case), and a delete in " +
    "one schema leaves the other's row standing") {
    val out = Normalizer.normalize(raw(
      (1L, 0,
        """{"_peerdb_source_schema":"sales","id":1,"name":"a","v":1}""",
        null, ""),
      (2L, 0,
        """{"_peerdb_source_schema":"ops","id":1,"name":"b","v":2}""",
        null, ""),
      (3L, 2, null, """{"_peerdb_source_schema":"sales","id":1}""", "")),
      cfg.copy(sourceSchemaColumn = true))
    val rows = out.collect().map(r =>
      r.getAs[String](Normalizer.SourceSchemaCol) ->
        (r.getAs[String]("name"), r.getAs[Boolean](RawTable.IsDeleted)))
      .toMap
    assert(rows.size == 2, out.collect().mkString(";"))
    assert(rows("sales") == (("a", true)))
    assert(rows("ops") == (("b", false)))
  }

  test("sourceSchemaColumn: TOAST backfill fills within ONE schema — " +
    "an absent column never leaks the other schema's value for the " +
    "same pk") {
    val out = Normalizer.normalize(raw(
      (1L, 0,
        """{"_peerdb_source_schema":"sales","id":1,"name":"S","v":1}""",
        null, ""),
      (2L, 0,
        """{"_peerdb_source_schema":"ops","id":1,"name":"O","v":2}""",
        null, ""),
      // update in ops with `name` unchanged-TOAST: must fill from the
      // ops insert ("O"), not from the newer-by-nothing sales image
      (3L, 1,
        """{"_peerdb_source_schema":"ops","id":1,"v":3}""",
        """{"_peerdb_source_schema":"ops","id":1}""", "name")),
      cfg.copy(sourceSchemaColumn = true))
    val rows = out.collect().map(r =>
      r.getAs[String](Normalizer.SourceSchemaCol) ->
        (r.getAs[String]("name"), r.getAs[Long]("v"))).toMap
    assert(rows("ops") == (("O", 3L)), rows.toString)
    assert(rows("sales") == (("S", 1L)), rows.toString)
  }
}
