package graft.cdc

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.StructType

import graft.model.{ChangeRecord, RawTable}

/** Normalize configuration for one destination table.
  *
  * @param pkColumns    replica-identity columns inside the payload
  * @param payloadSchema typed schema of the JSON payload (`_peerdb_data`)
  */
final case class NormalizeConfig(
    pkColumns: Seq[String],
    payloadSchema: StructType,
    /** PEERDB_SOURCE_SCHEMA_AS_DESTINATION_COLUMN
      * (dynamicconf.go:398-405): the destination gains a
      * `_peerdb_source_schema` column carrying the source table's
      * schema name — the disambiguator when MANY source tables route
      * into ONE destination. The capture side embeds the name as a
      * key inside the change JSON (cdc.go:189-202 items injection);
      * normalize extracts it like the ClickHouse
      * JSONExtractString(_peerdb_data, …) projection
      * (normalize_query.go:130-134). */
    sourceSchemaColumn: Boolean = false)

/** Raw change rows → one typed upsert/delete decision per primary key.
  *
  * The Spark restatement of the reference's normalize step
  * (flow/connectors/clickhouse/normalize_query.go:112-375, postgres
  * normalize_stmt_generator.go:74-327):
  *
  *  1. typed payload extraction (`from_json` over `_peerdb_data`, falling
  *     back to `_peerdb_match_data` for deletes, which carry no new image);
  *  2. within-batch TOAST backfill: a column listed in
  *     `_peerdb_unchanged_toast_columns` is ABSENT (not null) — it takes the
  *     last *present* value for the key in version order
  *     (utils/cdc_store.go backfill, design doc §1.4). Present-but-null is
  *     preserved by wrapping values in a struct before `last(ignoreNulls)`;
  *  3. PK-changing updates synthesize a delete of the OLD key at version−1
  *     (normalize_query.go:339-357) so the stale row dies;
  *  4. latest-version-per-key dedup (the ReplacingMergeTree / RANK()=1
  *     semantics, merge_stmt_generator.go:115-128).
  *
  * Output: one row per key: pk columns, typed data columns, `_peerdb_version`
  * (= raw `_peerdb_timestamp`), `_peerdb_is_deleted`, and `_absent_cols` —
  * columns still unresolved after within-batch backfill, which the merge
  * writer resolves against the destination (`coalesce`-by-presence).
  * Deleted keys always come out as tombstones (`_peerdb_is_deleted =
  * true`, normalize_query.go:327): the sink applies the delete policy.
  *
  * Scale: one shuffle, hash-partitioned by the primary key (high
  * cardinality); everything else is narrow. At 100 TB of changes the window
  * never sees more than one key's records per partition group.
  */
object Normalizer {

  val AbsentCols = "_absent_cols"
  /** Destination column name for the source-schema disambiguator
    * (clickhouse/normalize.go:34). */
  val SourceSchemaCol = "_peerdb_source_schema"

  def normalize(raw: DataFrame, cfg: NormalizeConfig): DataFrame = {
    val dataCols = cfg.payloadSchema.fieldNames.toSeq
    val valueCols = dataCols.filterNot(cfg.pkColumns.contains)

    val toastArr = when(
      col(RawTable.UnchangedToastColumns).isNotNull &&
        col(RawTable.UnchangedToastColumns) =!= "",
      split(col(RawTable.UnchangedToastColumns), ","))
      .otherwise(array().cast("array<string>"))

    // One projection per step: every `withColumn` re-analyzes the whole
    // plan, and this plan is rebuilt for every micro-batch.
    val parsed = raw.select(col("*"),
      from_json(col(RawTable.Data), cfg.payloadSchema).as("_payload"),
      from_json(col(RawTable.MatchData), cfg.payloadSchema).as("_match"),
      toastArr.as("_toast"))

    // Key columns: deletes carry the key in match data only.
    val keyed = parsed.select(col("*") +: cfg.pkColumns.map(k =>
      coalesce(col(s"_payload.$k"), col(s"_match.$k")).as(s"_pk_$k"))
      : _*)

    // PK-changing update → synthesize a delete of the OLD key at version−1,
    // keyed on the old (match) image.
    val pkChanged = cfg.pkColumns
      .map(k => col(s"_match.$k").isNotNull &&
        !(col(s"_match.$k") <=> col(s"_payload.$k")))
      .reduce(_ || _)
    val synthCols = Map(
      RawTable.RecordType -> lit(ChangeRecord.TypeDelete),
      RawTable.Timestamp -> (col(RawTable.Timestamp) - 1)) ++
      cfg.pkColumns.map(k => s"_pk_$k" -> col(s"_match.$k"))
    val oldKeyDeletes = keyed
      .filter(col(RawTable.RecordType) === ChangeRecord.TypeUpdate &&
        pkChanged)
      .select(keyed.columns.toSeq.map(c =>
        synthCols.get(c).fold(col(c))(_.as(c))): _*)
    val withSynth = keyed.unionByName(oldKeyDeletes)

    // Source-schema disambiguator: extracted from the embedded JSON
    // key (deletes carry it in the match image — their data is null).
    // Computed BEFORE the windows because the schema column is part of
    // the effective key: the reference PREPENDS it to the
    // ReplacingMergeTree ORDER BY (normalize.go:250), so two source
    // schemas sharing a primary-key value stay DISTINCT rows — ranking
    // by pk alone would collapse them (silent data loss in exactly the
    // many-to-one scenario the setting exists for), and the TOAST
    // backfill would leak values across schemas.
    val withSchema =
      if (!cfg.sourceSchemaColumn) withSynth
      else withSynth.withColumn("_src_schema",
        coalesce(get_json_object(
          coalesce(col(RawTable.Data), col(RawTable.MatchData)),
          "$." + SourceSchemaCol), lit("")))
    val keyCols =
      (if (cfg.sourceSchemaColumn) Seq(col("_src_schema")) else Nil) ++
        cfg.pkColumns.map(k => col(s"_pk_$k"))

    val pkWindow = Window
      .partitionBy(keyCols: _*)
      .orderBy(col(RawTable.Timestamp), col(RawTable.Uid))
    val backfillFrame =
      pkWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // Within-batch TOAST backfill. `present` distinguishes absent from null:
    // wrap present values in a struct so last(ignoreNulls) keeps nulls that
    // were really present.
    val wrapped = withSchema.select(col("*") +: valueCols.map { c =>
      val present =
        col(RawTable.RecordType) =!= ChangeRecord.TypeDelete &&
          !array_contains(col("_toast"), c)
      when(present, struct(col(s"_payload.$c").as("v"))).as(s"_wrap_$c")
    }: _*)

    // Latest record per key wins — per (schema, pk) key when the
    // disambiguator is on: the row with no successor in version order,
    // whose running backfill has seen every earlier record. The backfill
    // and the successor probe share one window, so one sort serves both.
    val ranked = wrapped.select(col("*") +: (valueCols.map(c =>
        last(col(s"_wrap_$c"), ignoreNulls = true).over(backfillFrame)
          .as(s"_val_$c")) :+
        lead(lit(true), 1).over(pkWindow).as("_next")): _*)
      .filter(col("_next").isNull)

    val schemaOut =
      if (cfg.sourceSchemaColumn)
        Seq(col("_src_schema").as(SourceSchemaCol))
      else Nil
    ranked.select(
      cfg.pkColumns.map(k => col(s"_pk_$k").as(k)) ++
        valueCols.map(c => col(s"_val_$c.v").as(c)) ++
        schemaOut ++ Seq(
          col(RawTable.Timestamp).as(RawTable.Version),
          (col(RawTable.RecordType) === ChangeRecord.TypeDelete)
            .as(RawTable.IsDeleted),
          // Columns never seen in this batch stay absent → merge-time
          // coalesce.
          array_compact(array(valueCols.map(c =>
            when(col(s"_val_$c").isNull, lit(c))): _*))
            .as(AbsentCols)): _*)
  }
}
