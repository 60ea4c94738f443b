package graft.mirror




import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.cdc.{MergeWriter, NormalizeConfig, Normalizer, SchemaEvolution}
import graft.model.{ChangeRecord, RawTable}

/** Per-destination-table replication settings (the TableMapping entry,
  * protos/flow.proto TableMapping): replica-identity columns + typed
  * payload schema + excluded columns. */
final case class TableConfig(
    pkColumns: Seq[String],
    payloadSchema: StructType,
    /** TableMapping.exclude (model.NameAndExclude): columns never
      * replicated — dropped at pull (cdc.go:364) and, crucially, ignored
      * when a RelationRecord later re-announces them
      * (isAddedColumnAndNotExcluded, cdc.go:1327-1334). Here the pull
      * half falls out of parsing with [[effectiveSchema]] (from_json
      * ignores fields it isn't asked for); the delta half is enforced in
      * [[MirrorRunner]]'s schema-delta application. */
    excludeColumns: Set[String] = Set.empty) {

  require(!pkColumns.exists(excludeColumns),
    s"cannot exclude replica-identity columns: " +
      pkColumns.filter(excludeColumns).mkString(","))

  /** The payload schema actually parsed/replicated: config minus
    * exclusions. */
  def effectiveSchema: StructType =
    if (excludeColumns.isEmpty) payloadSchema
    else StructType(payloadSchema.fields.filterNot(f =>
      excludeColumns.contains(f.name)))
}

/** One delta-maintained aggregate view over a mirrored table:
  * `GROUP BY groupCol → (count, sum(valueCol))` persisted at `dir`,
  * kept exactly in sync by [[IncrementalAgg]] on every merged batch. */
final case class AggViewConfig(
    groupCol: String,
    valueCol: String,
    dir: String)

/** One CDC mirror: WAL source → raw staging table → normalized table(s).
  *
  * The Spark restatement of the reference's steady-state loop
  * (pullAndSyncCore, flow/activities/flowable_core.go:121-437 and the
  * normalize loop :791): pull goroutine ⇒ micro-batch source; sync
  * goroutine ⇒ raw append inside foreachBatch; normalize goroutine ⇒
  * Normalizer + MergeWriter in the same batch hook. Temporal's role
  * (restart, offsets) is played by the streaming checkpointLocation.
  *
  * Delivery: the source is at-least-once after recovery; the raw append is
  * guarded by a batch-id high-water mark and the merge is idempotent
  * (latest-version-wins), mirroring the reference's idempotent-sink
  * contract (core.go:130,204-206).
  */
final case class MirrorConfig(
    walDir: String,
    rawDir: String,
    destDir: String,
    checkpointDir: String,
    pkColumns: Seq[String],
    payloadSchema: StructType,
    destinationTable: String = "dest",
    maxBatchSize: Int = 250000,
    /** Delete policy, applied by the sinks only: true keeps a deleted key
      * as a tombstone row (`_peerdb_is_deleted`), false deletes the
      * destination row. */
    softDelete: Boolean = true,
    /** Snapshot→CDC handoff: checkpoint the initial snapshot was taken at;
      * the stream starts strictly after it (snapshot_flow.go). */
    snapshotCheckpoint: Long = -1L,
    /** `avro.codec` of the OCFs staged for the warehouse bulk legs
      * ([[graft.sinks.AvroStage.Codecs]] — avro_writer.go:38,80).
      * The engine's readers auto-detect from the file header; the
      * DDL gates zstandard off the server-parsed destinations. */
    stageCodec: String = "null",
    /** Per-record transform "script" — the reference's Lua `script` flow
      * option as one declarative Spark SQL expression over the record
      * frame (row-image JSON bound to `data`), applied between pull and
      * raw staging to BOTH images ([[graft.transform.RowTransform
      * .sqlTransform]]; flowable.go:485-512 attaches the Lua adapter at
      * the same point). None = passthrough. */
    transformSql: Option[String] = None,
    /** Additional destination tables (one mirror replicates a table SET,
      * the reference's TableMapping list). Keyed by the WAL records'
      * `destinationTable`; records for the primary `destinationTable`
      * use `pkColumns`/`payloadSchema` above. Tables not listed are
      * ignored (exclusion by omission). */
    extraTables: Map[String, TableConfig] = Map.empty,
    /** Delta-maintained aggregate views, keyed by destination table:
      * every merged batch also folds its group deltas into the view
      * ([[IncrementalAgg]]) — the view is exactly in sync with the
      * destination after each batch, without ever rescanning it. */
    aggViews: Map[String, AggViewConfig] = Map.empty,
    /** Durable replication-stats catalog directory ([[StatsCatalog]], the
      * peerdb_stats schema). None = stats disabled (zero extra jobs). */
    statsDir: Option[String] = None,
    /** Flow name for stats rows; defaults to `destinationTable`. */
    flowName: String = "",
    /** Excluded columns of the PRIMARY table (extras carry their own set
      * in [[TableConfig]]). */
    excludeColumns: Set[String] = Set.empty,
    /** Physical soft-delete column name at the destination —
      * SoftDeleteColName (flow/model/model.go:167). */
    softDeleteColName: String = graft.model.RawTable.IsDeleted,
    /** When set, merge-written rows are stamped (epoch micros) under this
      * column — SyncedAtColName (model.go:168). */
    syncedAtColName: Option[String] = None,
    /** Per-flow dynamic-setting overrides — FlowConnectionConfigs.env
      * (proto field 24): keys are [[Settings]] names, resolved env-first
      * at every read point (dynLookup, dynamicconf.go:558). Lets one
      * mirror raise its raw-retention or alert thresholds without
      * touching the deployment-wide settings. */
    env: Map[String, String] = Map.empty,
    /** Optional upstream CAPTURE: a directory of raw wire-protocol
      * files decoded into the WAL before each run/resume — the "slot
      * read" half of the pipeline in file form. `captureFormat` selects
      * the decoder: "pgoutput" ([[graft.cdc.PgOutputFrames]] framed
      * captures) or "binlog" ([[graft.cdc.MysqlBinlogFiles]] native
      * binlog files). The source resume offset (commit LSN / GTID set /
      * file:pos) is durable under the checkpoint dir, so pause/resume
      * and restarts never re-append acked transactions. */
    captureDir: Option[String] = None,
    captureFormat: String = "pgoutput",
    /** Mongo capture only: the watch scope as db-qualified `db.coll`
      * names (the TableMapping source set feeding
      * [[graft.cdc.MongoStream.pipeline]]). Empty = the mirror's
      * destination-table names, which must then be db-qualified. */
    captureTables: Seq[String] = Nil,
    /** Source→destination table routing applied at capture decode —
      * the reference's TableMapping source/destination identifier
      * pairs. The partitioned-table case rides this: each LEAF
      * partition routes to the ROOT's destination (what
      * `publish_via_partition_root=false` publications emit — one
      * relation per leaf), so partition churn (a new leaf announced
      * mid-stream by its Relation message) lands in the same merged
      * table with no config change. Unlisted sources keep their own
      * name. */
    tableRoutes: Map[String, String] = Map.empty,
    /** Queue/live destination: `kafka://host:port[?acks=N][&ssh=…]`
      * publishes each batch's change records over the live Kafka wire
      * protocol ([[graft.sinks.KafkaPublish]]) INSTEAD of normalizing
      * — queue connectors are sync-only in the reference (kafka.go has
      * SyncRecords and no normalize step). Topic = destination table,
      * key = uid, value = row JSON (kafka.go:301-312 default routing).
      * `es://host:port` instead dedups each batch to latest-per-key
      * and ships `_bulk` index/delete actions with `_id` = PK — the
      * ES connector's natural-upsert contract over the public REST
      * surface. */
    queueUrl: Option[String] = None,
    /** `onRecord` queue-routing script (lang 'lua' in the scripts
      * catalog — the reference's ONLY user extensibility surface,
      * flow/pua/peerdb.go): when set, queue destinations shape each
      * change record by calling the script instead of the default
      * routing ([[graft.transform.LuaQueue]]). */
    luaScript: Option[String] = None,
    /** `require "name"` library set for [[luaScript]] — the lua
      * scripts-catalog snapshot (LoadPeerdbScript, peerdb.go:122-147). */
    luaLibs: Map[String, String] = Map.empty,
    /** Live SQL destination: `pg://user:pass@host:port/db[?flavor=…]`
      * routes every normalized batch through the staging→COPY→MERGE
      * warehouse loop ([[graft.sinks.WarehouseLoader]] over a real
      * pgwire session) INSTEAD of the native parquet MergeWriter — the
      * reference's PostgreSQL-destination normalize loop
      * (flow/connectors/postgres/) with nothing in-process. `flavor`
      * picks the statement family: `postgres` (default, ANSI MERGE) or
      * `postgres14`/`cockroachdb` (the ON CONFLICT fallback). The WAL/
      * raw legs are unchanged, so resume, retention and stats behave
      * identically; [[MirrorRunner.destination]] does not apply — read
      * the destination tables on the server. */
    warehouseUrl: Option[String] = None,
    /** Suffix appended to every live-destination table name — the
      * RESYNC rebuild writes `<table>_peerdb_resync` and swaps on
      * success ([[Maintenance.swapLiveResync]], the reference's
      * RenameTables); empty for normal operation. */
    warehouseTableSuffix: String = "") {

  def flow: String = if (flowName.nonEmpty) flowName else destinationTable

  /** destinationTable → (config, dest subdirectory). */
  def tableSet: Map[String, (TableConfig, String)] = {
    val primary = destinationTable ->
      (TableConfig(pkColumns, payloadSchema, excludeColumns), destDir)
    // Sibling of destDir — NOT nested inside it (the primary table's
    // overwrite would destroy nested extras).
    val extras = extraTables.map { case (name, tc) =>
      name -> (tc, s"${destDir}_tables/$name")
    }
    extras + primary
  }
}

/** ES `_id`-derivation scheme version, persisted next to the queue
  * high-water mark the first time a mirror publishes to an `es://`
  * destination. v1 = '_'-joined PK values (collision-prone, retired);
  * v2 = sha256 over null-flagged length-prefixed values (current,
  * [[MirrorRunner.publishEs]]). VALIDATE MIRROR compares a mirror's
  * stored version against [[Current]]: updates/deletes issued under a
  * NEWER scheme target different document ids than the ones the old
  * scheme wrote, silently orphaning those documents — the operational
  * remedy is a RESYNC, and the check is what surfaces that need. */
private[mirror] object EsIdScheme {
  val Current = "2"
  /** Stamped when a mirror that ALREADY published is first seen by a
    * marker-aware build — its documents may carry v1 ids. Cleared by
    * a RESYNC (which rewrites every document under the current
    * scheme): delete the marker with the rebuild. */
  val Legacy = "1"
  def markerPath(checkpointDir: String): String =
    s"$checkpointDir/graft-es-id-scheme"
}

/** One (destination table, record type) group of a micro-batch. */
private final case class BatchGroup(table: String, recordType: Int,
    records: Long, maxCheckpoint: Long, minCommitMicros: Long)

private object BatchGroup {
  private type Row = (String, Int, Long, Long, Long)

  /** The groups of one batch in a single job with no shuffle: each
    * partition folds its rows into at most tables × record types groups,
    * and the driver folds those. */
  def of(batch: DataFrame): Seq[BatchGroup] = {
    import org.apache.spark.sql.Encoders
    val enc = Encoders.tuple(Encoders.STRING, Encoders.scalaInt,
      Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong)
    fold(batch.select(col("destinationTable"), col("recordType"),
        lit(1L), col("checkpointId"), col("commitTimeMicros"))
      .as(enc).mapPartitions(fold(_))(enc).collect().iterator)
      .map((BatchGroup.apply _).tupled).toSeq
  }

  private def fold(rows: Iterator[Row]): Iterator[Row] = {
    val acc = scala.collection.mutable.LinkedHashMap.empty[(String, Int), Row]
    rows.foreach { r =>
      acc((r._1, r._2)) = acc.get((r._1, r._2)).fold(r)(a =>
        (a._1, a._2, a._3 + r._3, math.max(a._4, r._4), math.min(a._5, r._5)))
    }
    acc.valuesIterator
  }
}

class MirrorRunner(spark: SparkSession, cfg: MirrorConfig) {

  /** PEERDB_SOURCE_SCHEMA_AS_DESTINATION_COLUMN resolved against this
    * mirror's env overrides, PINNED at runner construction
    * (APPLY_MODE_NEW_MIRROR, dynamicconf.go:403: the reference fixes
    * it per mirror — a key-shape setting cannot flip mid-stream, the
    * destination's dedup key would change under existing rows). */
  private val srcSchemaCol: Boolean =
    Settings.get(spark, "mirror.source_schema_as_destination_column",
      cfg.env).exists(_.toBoolean)

  /** PEERDB_CLICKHOUSE_BINARY_FORMAT (dynamicconf.go:549-560): one
    * representation for BYTES columns across every CH write path
    * (normalize, staged copy, snapshot copy). */
  private val chBinaryFormat: String =
    Settings.get(spark, "clickhouse.binary_format", cfg.env)
      .getOrElse("raw")

  /** PEERDB_NULLABLE (dynamicconf.go:130), pinned at construction
    * like the other schema-shape settings: destination DDL carries
    * NOT NULL for source-non-nullable columns. */
  private val nullableEnabled: Boolean =
    Settings.get(spark, "mirror.nullable", cfg.env)
      .exists(_.toBoolean)

  /** Effective merge/dedup key: the reference PREPENDS the source
    * schema column to the ReplacingMergeTree ORDER BY
    * (normalize.go:250) — with the disambiguator on, rows from two
    * source schemas sharing a pk value are DISTINCT. */
  private def keysOf(tc: TableConfig): Seq[String] =
    if (srcSchemaCol) graft.cdc.Normalizer.SourceSchemaCol +: tc.pkColumns
    else tc.pkColumns

  /** Destination schema including the disambiguator column (String,
    * part of the key so NOT NULL; normalize emits "" when the record
    * carried no schema name). */
  private def schemaWithMeta(schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (!srcSchemaCol ||
      schema.fieldNames.contains(graft.cdc.Normalizer.SourceSchemaCol))
      schema
    else org.apache.spark.sql.types.StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(
        graft.cdc.Normalizer.SourceSchemaCol,
        org.apache.spark.sql.types.StringType, nullable = false))

  private[mirror] val writers: Map[String, (TableConfig, MergeWriter)] =
    cfg.tableSet.map { case (name, (tc, dir)) =>
      name -> (tc, new MergeWriter(spark, dir, keysOf(tc),
        softDeleteCol = cfg.softDeleteColName,
        syncedAtCol = cfg.syncedAtColName))
    }
  /** Every normalized batch lands through here, under the mirror's
    * delete policy (`softDelete = false` removes tombstoned keys from
    * the destination). Tables with a configured aggregate view merge
    * via [[IncrementalAgg.applyBatch]] (which wraps the same MergeWriter
    * merge between the before/after images); the rest merge directly.
    * The view wrapper is built per call from the caller's table config
    * — a view configured for a table that joins the mirror later
    * (catchUpTable) works without a tableSet entry at construction
    * time. */
  private def applyChanges(table: String, writer: MergeWriter,
      pkColumns: Seq[String], normalized: org.apache.spark.sql.DataFrame,
      batchId: Option[Long] = None): Unit =
    cfg.aggViews.get(table) match {
      case Some(av) =>
        // batchId makes the view fold exactly-once across foreachBatch
        // replays (write-ahead before-image + pointer commit — see
        // IncrementalAgg's crash-safety protocol)
        new IncrementalAgg(spark, av.dir, av.groupCol, av.valueCol,
          pkColumns).applyBatch(writer, normalized,
            hardDelete = !cfg.softDelete, batchId = batchId)
      case None => writer.merge(normalized, hardDelete = !cfg.softDelete)
    }

  /** One table's change set from a raw slice: its change records
    * (relation/message records, type ≥ 3, stay in the raw changefeed)
    * normalized to one upsert or tombstone per key. Tombstones always
    * reach the sink, which applies the mirror's delete policy. */
  private def changeSet(raw: DataFrame, table: String,
      pkColumns: Seq[String], schema: StructType): DataFrame =
    Normalizer.normalize(
      raw.filter(col(RawTable.DestinationTable) === table &&
        col(RawTable.RecordType) <= ChangeRecord.TypeDelete),
      NormalizeConfig(pkColumns, schema, sourceSchemaColumn = srcSchemaCol))
  /** Live payload schemas: start from config, re-widened from the
    * destination's persisted schema (a restarted mirror must not parse
    * with a pre-ADD-COLUMN config and silently drop the new column), then
    * evolve further as RelationRecords arrive (applySchemaDeltas,
    * flowable_core.go:65-119). */
  private val liveSchemas =
    scala.collection.concurrent.TrieMap.empty[String,
      org.apache.spark.sql.types.StructType] ++
      writers.map { case (name, (tc, writer)) =>
        val meta = Set(RawTable.Version, RawTable.IsDeleted) ++
          cfg.syncedAtColName
        val base = tc.effectiveSchema
        val recovered = writer.currentSchema match {
          case Some(stored) =>
            val known = base.fieldNames.toSet
            org.apache.spark.sql.types.StructType(
              base.fields ++ stored.fields.filter(f =>
                !known.contains(f.name) && !meta.contains(f.name) &&
                  !tc.excludeColumns.contains(f.name)))
          case None => base
        }
        name -> recovered
      }
  /** Live SQL destination behind [[MirrorConfig.warehouseUrl]]. One
    * connection per batch (a mirror tick is one batch; the reference
    * holds a pool for the same cadence), and an idempotent
    * ADD COLUMN IF NOT EXISTS widen runs before each load so payload
    * schemas widened mid-stream by RelationRecords reach the
    * destination table before a MERGE references the new column (the
    * reference's ReplayTableSchemaDeltas). */
  private final class WarehouseDest(url: String) {
    private val ep = graft.cdc.CaptureEndpoint.parse(url)
    private val flavor = ep.scheme match {
      case "snowflake" => "snowflake"
      case "bigquery" => "bigquery"
      case _ => ep.param("flavor", "postgres")
    }
    private val restApi = flavor == "snowflake" || flavor == "bigquery"
    private val dialect = flavor match {
      case "snowflake" => graft.types.QKind.Dialect.Snowflake
      case "bigquery" => graft.types.QKind.Dialect.BigQuery
      case _ => graft.types.QKind.Dialect.Ansi // pg family
    }
    private val created = scala.collection.mutable.Set.empty[String]
    private def connect(): graft.server.PgClient =
      graft.server.PgClients.connect(ep, Nil) // honors ssl=/ssh= params
    def load(table: String, tc: TableConfig,
        normalized: org.apache.spark.sql.DataFrame,
        batchId: Long): Unit = {
      // pg family holds one pgwire session per batch; snowflake:// and
      // bigquery:// statements ride their stateless REST SQL APIs
      // ([[SnowflakeSqlApi]] / [[BigQuerySqlApi]])
      val (exec, close): (graft.sinks.SqlExecutor, () => Unit) =
        flavor match {
          case "snowflake" =>
            (new graft.sinks.SnowflakeSqlApi(url), () => ())
          case "bigquery" =>
            (new graft.sinks.BigQuerySqlApi(url), () => ())
          case _ =>
            val c = connect()
            (new graft.sinks.PgWarehouse(c), () => c.close())
        }
      try {
        val live = table + cfg.warehouseTableSuffix
        val target = graft.sinks.MergeTarget(live,
          s"${live}_graft_stage", keysOf(tc),
          schemaWithMeta(liveSchemas(table)),
          softDelete = cfg.softDelete,
          nullableEnabled = nullableEnabled,
          bqSyncedAtPartitioning = flavor == "bigquery" &&
            Settings.get(spark, "bigquery.synced_at_partitioning",
              cfg.env).exists(_.toBoolean))
        val loader = new graft.sinks.WarehouseLoader(target, exec,
          flavor)
        if (!created(table)) { loader.setup(); created += table }
        // a crash between COPY and DROP can leave a stale staging
        // table with an older schema — every load starts clean
        exec.execute("DROP TABLE IF EXISTS " + graft.sinks
          .MergeSqlGenerator.qualified(target.stagingTable, dialect))
        if (restApi)
          graft.sinks.MergeSqlGenerator.alterAddColumnStatements(
            target, dialect).foreach(exec.execute)
        else exec.execute(
          graft.sinks.MergeSqlGenerator.alterAddColumns(target))
        loader.loadBatch(normalized,
          s"${cfg.checkpointDir}/stage/${table.replace('.', '_')}" +
            s"/$batchId", cfg.stageCodec,
          chBinaryFormat = chBinaryFormat)
      } finally close()
    }
  }
  private lazy val warehouseDest: Option[WarehouseDest] =
    cfg.warehouseUrl.filterNot(_.startsWith("clickhouse://"))
      .map(new WarehouseDest(_))

  /** Live ClickHouse destination (`warehouse_url 'clickhouse://…'`) —
    * the reference's flagship sink, its own flow shape: raw records
    * ship to a CH-side `_peerdb_raw_<flow>` table and normalize runs
    * THERE as `INSERT INTO dest SELECT JSONExtract(…)` into a
    * ReplacingMergeTree (flow/connectors/clickhouse/cdc.go:58-170,
    * normalize.go:425-660, normalize_query.go:112-375). No MERGE, no
    * staging table: the RMT engine is the merge. */
  private final class ClickHouseDest(url: String) {
    import graft.sinks.{ClickHouseHttp, ClickHouseSql, MergeTarget,
      MergeSqlGenerator}
    import graft.types.QKind

    // PEERDB_CLICKHOUSE_MAX_INSERT_THREADS (clickhouse.go:222-226):
    // rides every statement as a query-param setting; 0 = default
    private val http = new ClickHouseHttp(url,
      settings = Settings.getLong(spark,
        "clickhouse.max_insert_threads", cfg.env) match {
        case 0L => Nil
        case n => Seq("max_insert_threads" -> n.toString)
      },
      clientName = Settings.get(spark, "clickhouse.client_name",
        cfg.env).getOrElse("peerdb"))
    private val rawTable = ClickHouseSql.rawTableName(cfg.flow)
    private val created = scala.collection.mutable.Set.empty[String]
    private var rawReady = false
    private def live(table: String) = table + cfg.warehouseTableSuffix
    private val syncHwmPath = s"${cfg.checkpointDir}/graft-ch-sync-hwm"
    private def normPath(table: String) =
      s"${cfg.checkpointDir}/graft-ch-norm-" +
        table.replaceAll("[^a-zA-Z0-9_]", "_")

    private def ensureTables(): Unit = {
      if (!rawReady) {
        http.exec(ClickHouseSql.createRawTable(rawTable))
        rawReady = true
      }
      cfg.tableSet.foreach { case (table, (tc, _)) =>
        val t = live(table)
        if (!created(t)) {
          http.exec(MergeSqlGenerator.createTable(
            MergeTarget(t, t + "_unused_stage", keysOf(tc),
              schemaWithMeta(liveSchemas(table)),
              softDelete = cfg.softDelete,
              nullableEnabled = nullableEnabled),
            QKind.Dialect.ClickHouse))
          created += t
        }
        // idempotent widen BEFORE normalize references a new column
        // (ReplayTableSchemaDeltas, cdc.go:228-329)
        ClickHouseSql.alterAddColumns(t, liveSchemas(table),
          tc.pkColumns).foreach(http.exec)
      }
    }

    /** Initial full load: snapshot rows land DIRECTLY in the
      * destination table versioned at the snapshot checkpoint (the
      * reference's avro initial load writes the dest table, not raw) —
      * any change the stream replays afterwards is strictly newer and
      * wins on the RMT version. */
    def loadSnapshot(table: String, tc: TableConfig,
        snapshot: org.apache.spark.sql.DataFrame,
        version: Long): Unit = {
      ensureTables()
      val shaped = snapshot
        .withColumn(RawTable.IsDeleted, lit(false))
        .withColumn(RawTable.Version, lit(version))
      val hasBinary = snapshot.schema.fields
        .exists(_.dataType == org.apache.spark.sql.types.BinaryType)
      if (!hasBinary)
        graft.sinks.ClickHouseHttp.publishRaw(shaped, live(table), http)
      else {
        // BYTES columns serialize as base64 TEXT in JSONEachRow, but
        // the CDC normalize lands DECODED bytes (binExpr) — a direct
        // snapshot insert would store base64 text beside the stream's
        // raw bytes in ONE column. Route through a staging table +
        // the same decoding copy the QRep loader uses, so snapshot
        // and stream agree byte-for-byte.
        val t = live(table)
        val stage = t + "_graft_snap_stage"
        val target = graft.sinks.MergeTarget(t, stage, keysOf(tc),
          org.apache.spark.sql.types.StructType(
            snapshot.schema.fields), softDelete = cfg.softDelete)
        val chQ = (s: String) => graft.sinks.MergeSqlGenerator
          .qualified(s, QKind.Dialect.ClickHouse)
        http.exec(s"DROP TABLE IF EXISTS ${chQ(stage)}")
        http.exec(graft.sinks.MergeSqlGenerator.createStaging(
          target, shaped.schema, QKind.Dialect.ClickHouse))
        graft.sinks.ClickHouseHttp.publishRaw(shaped, stage, http)
        http.exec(graft.sinks.MergeSqlGenerator.clickhouseInsert(
          target, binaryFormat = chBinaryFormat))
        http.exec(s"DROP TABLE IF EXISTS ${chQ(stage)}")
      }
    }

    /** One micro-batch: raw sync (skip on replay via the durable HWM;
      * a crash between ship and HWM re-ships, and the RMT collapse
      * absorbs byte-identical duplicates — the reference's
      * at-least-once posture), then per-table normalize over the new
      * batch-id range with per-table durable progress
      * (SetLastNormalizedBatchIDForTable, normalize.go:545). */
    def syncAndNormalize(raw: org.apache.spark.sql.DataFrame,
        batchId: Long): Unit = {
      ensureTables()
      val synced = graft.util.FsText.read(syncHwmPath, hadoopConf)
        .map(_.trim.toLong)
      if (synced.forall(batchId > _)) {
        cfg.tableSet.foreach { case (table, (tc, _)) =>
          val slice0 = raw.filter(
            col(RawTable.DestinationTable) === table &&
              col(RawTable.RecordType) <= ChangeRecord.TypeDelete)
          // source-side TOAST backfill (the cdcRecordsStorage role,
          // postgres/cdc.go:850-880): CH normalize replaces whole
          // rows, so absent columns must fill BEFORE the ship
          val slice =
            if (!graft.sinks.ClickHouseHttp.hasAbsent(slice0)) slice0
            else {
              val history = spark.read.parquet(cfg.rawDir).filter(
                col(RawTable.BatchId) < batchId &&
                  col(RawTable.DestinationTable) === table &&
                  col(RawTable.RecordType) <= ChangeRecord.TypeDelete)
              graft.sinks.ClickHouseHttp.backfillAbsent(slice0,
                history, tc.pkColumns, liveSchemas(table),
                sourceSchemaColumn = srcSchemaCol)
            }
          // _peerdb_timestamp carries the checkpoint LSN (the uid's
          // numeric image): the reference's strictly-increasing
          // per-record stamp (utils/stream.go UnixNano) without a
          // wall clock — RMT versions must never tie across images.
          // Deletes from the CAPTURE transports carry the old image in
          // matchData with data null (the pgoutput/binlog convention);
          // CH normalize extracts every column — key included — from
          // _peerdb_data (the reference stores DeleteRecord.Items in
          // the data slot, connectors/clickhouse raw shape), so the
          // image folds over: without this a capture-sourced delete
          // extracts its key from '' and tombstones key 0/''.
          val shaped = slice
            .withColumn(RawTable.Timestamp,
              col(RawTable.Uid).cast("long"))
            .withColumn(RawTable.DestinationTable, lit(live(table)))
            .withColumn(RawTable.Data,
              when(col(RawTable.RecordType) === ChangeRecord.TypeDelete,
                coalesce(col(RawTable.Data), col(RawTable.MatchData)))
                .otherwise(col(RawTable.Data)))
            .withColumn(RawTable.MatchData,
              coalesce(col(RawTable.MatchData), lit("")))
            .withColumn(RawTable.UnchangedToastColumns,
              coalesce(col(RawTable.UnchangedToastColumns), lit("")))
          graft.sinks.ClickHouseHttp.publishRaw(shaped, rawTable, http)
        }
        graft.util.FsText.write(syncHwmPath, batchId.toString,
          hadoopConf)
      }
      // PEERDB_CLICKHOUSE_PARALLEL_NORMALIZE (dynamicconf.go:301):
      // N > 1 runs the per-table INSERT…SELECTs concurrently (load
      // spreads across CH nodes); per-table durable progress keeps
      // crash-replay semantics — each table re-normalizes only its
      // own missed range. PEERDB_CLICKHOUSE_ENABLE_PRIMARY_UPDATE
      // gates the old-key tombstone branch (see Settings scaladoc for
      // the default divergence).
      val primaryUpdate = Settings.get(spark,
        "clickhouse.enable_primary_update", cfg.env)
        .forall(_.toBoolean)
      def normalizeOne(table: String, tc: TableConfig): Unit = {
        val last = graft.util.FsText.read(normPath(table), hadoopConf)
          .map(_.trim.toLong).getOrElse(-1L)
        if (batchId > last) {
          http.exec(ClickHouseSql.normalizeQuery(live(table),
            liveSchemas(table), tc.pkColumns, rawTable, last, batchId,
            enablePrimaryUpdate = primaryUpdate,
            sourceSchemaColumn = srcSchemaCol,
            binaryFormat = chBinaryFormat))
          graft.util.FsText.write(normPath(table), batchId.toString,
            hadoopConf)
        }
      }
      val width = math.min(
        Settings.getLong(spark, "clickhouse.parallel_normalize",
          cfg.env).toInt, cfg.tableSet.size)
      if (width <= 1) cfg.tableSet.foreach { case (t, (tc, _)) =>
        normalizeOne(t, tc)
      } else {
        val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
        try {
          val futures = cfg.tableSet.toSeq.map { case (t, (tc, _)) =>
            pool.submit(new java.util.concurrent.Callable[Unit] {
              override def call(): Unit = normalizeOne(t, tc)
            })
          }
          try futures.foreach(_.get()) // surface the FIRST failure
          catch {
            case e: java.util.concurrent.ExecutionException =>
              throw e.getCause
          }
        } finally pool.shutdownNow()
      }
    }
  }
  private lazy val chDest: Option[ClickHouseDest] =
    cfg.warehouseUrl.filter(_.startsWith("clickhouse://"))
      .map(new ClickHouseDest(_))

  private def merge = writers(cfg.destinationTable)._2
  private val hwmPath = s"${cfg.checkpointDir}/graft-raw-hwm"
  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  /** Replication-stats catalog (the per-flow peerdb_stats writes woven
    * through pullAndSyncCore / the normalize loop in the reference). The
    * flow row is initialized eagerly (first-write-wins fold op, so
    * restarts are no-ops); per-batch events buffer and land as one
    * segment per micro-batch via the flush() at the end of
    * [[syncAndNormalizePinned]]. */
  val stats: Option[StatsCatalog] =
    cfg.statsDir.map(d => new StatsCatalog(d, hadoopConf))
  stats.foreach(_.initializeCdcFlow(cfg.flow))

  private val captureLock = new Object

  /** Drain the configured capture directory into the WAL (transaction-
    * boundary durable) and persist the source resume offset. No-op
    * without `captureDir`. Returns records appended this pass.
    * Serialized: the WAL writer contract is single-writer, and the
    * continuous pump may race a manual EXECUTE. */
  def ingestCapture(): Long = captureLock.synchronized {
    ingestCaptureUnlocked()
  }

  /** Attached metrics export ([[MetricsBridge]]): when set, every
    * synced batch and every capture-pump tick also emits the gauge set
    * (slot lag, committed checkpoint, normalize lag) — the automatic
    * flavor of the reference's monitoring loop. Gauge emission must
    * never fail a batch: errors are swallowed (the gauges are
    * observability, the batch is data). */
  @volatile private var metricsBridge: Option[MetricsBridge] = None
  def attachMetrics(sink: MetricsSink): MetricsBridge = {
    val b = new MetricsBridge(sink)
    metricsBridge = Some(b)
    b
  }

  /** Classified flow-error recording (the reference's LogFlowError
    * always classifies, alerting.go:340-399): with a metrics bridge
    * attached, the error rides [[MetricsBridge.flowErrorTick]] —
    * durable row + taxonomy-attributed counter; without one, the
    * plain durable row with the same full-cause-chain message. */
  private def recordFlowError(context: String, e: Throwable): Unit =
    stats.foreach { st =>
      metricsBridge match {
        case Some(b) =>
          // flowErrorTick lands the durable row FIRST; a sink failure
          // after that must not re-log (double rows skew ops counts)
          // and must never fail the flow — swallow
          try { b.flowErrorTick(st, cfg.flow, e, context = context); () }
          catch { case scala.util.control.NonFatal(_) => () }
        case None => st.logFlowError(cfg.flow,
          s"$context: ${ErrorClassifier.chainMessage(e)}")
      }
    }
  private def metricsTick(): Unit = metricsBridge.foreach { b =>
    try {
      b.slotLagTick(cfg.flow, metricsPeerName, cfg.walDir,
        cfg.checkpointDir)
      stats.foreach(b.normalizeLagTick)
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** WAL heartbeat (SendWALHeartbeat, flowable.go:907-945, scheduled
    * every 10 min in the reference): an IDLE source accumulates WAL
    * behind the slot's restart_lsn until some transaction lets the
    * consumer ack forward — a tiny logical message per interval keeps
    * idle-slot lag bounded. Config-gated, off by default; pgwire
    * capture endpoints only (the message travels the slot and decodes
    * as a pgoutput 'M' record, a no-op for the ingest). Returns true
    * when a heartbeat was emitted (spec probe). */
  @volatile private var lastHeartbeatMs = 0L
  private[mirror] def walHeartbeatTick(): Boolean = {
    val enabled = Settings.get(spark, "mirror.enable_wal_heartbeat",
      cfg.env).exists(_.toBoolean)
    val isPgwire = cfg.captureDir.exists(u =>
      graft.cdc.CaptureEndpoint.isUrl(u) &&
        graft.cdc.CaptureEndpoint.parse(u).scheme == "pgwire")
    if (!enabled || !isPgwire) return false
    val interval = Settings.getLong(spark,
      "mirror.wal_heartbeat_interval_ms", cfg.env)
    val now = System.currentTimeMillis()
    if (now - lastHeartbeatMs < interval) return false
    lastHeartbeatMs = now
    val c = graft.server.PgClients.connect(cfg.captureDir.get, Nil)
    try c.queryAll(Settings.get(spark, "mirror.wal_heartbeat_query",
      cfg.env).get)
    finally c.close()
    true
  }

  /** Logical peer label for gauge attributes — scheme://host:port for
    * socket endpoints (NEVER the raw URL: it may carry credentials),
    * "capture" for file captures, "wal" for WAL-direct mirrors. */
  private def metricsPeerName: String = cfg.captureDir match {
    case Some(u) if graft.cdc.CaptureEndpoint.isUrl(u) =>
      val ep = graft.cdc.CaptureEndpoint.parse(u)
      s"${ep.scheme}://${ep.host}:${ep.port}"
    case Some(_) => "capture"
    case None => "wal"
  }

  /** Capture-decode rename: leaf/renamed sources → their destination. */
  private def routeFor(source: String): String =
    cfg.tableRoutes.getOrElse(source, source)

  private def ingestCaptureUnlocked(): Long = cfg.captureDir match {
    case None => 0L
    case Some(url) if graft.cdc.CaptureEndpoint.isUrl(url) =>
      ingestSocket(url, s"${cfg.checkpointDir}/_capture_offset")
    case Some(dir) =>
      val offsetPath = s"${cfg.checkpointDir}/_capture_offset"
      cfg.captureFormat match {
        case "pgoutput" =>
          val after = graft.util.FsText.read(offsetPath, hadoopConf)
            .map(_.toLong).getOrElse(-1L)
          val (n, last) = graft.cdc.PgOutputFrames.ingest(dir, cfg.walDir,
            afterCommitLsn = after, destinationFor = routeFor)
          if (last != after)
            graft.util.FsText.write(offsetPath, last.toString, hadoopConf)
          n
        case "binlog" =>
          val after = graft.util.FsText.read(offsetPath, hadoopConf)
            .getOrElse("")
          val (n, last) = graft.cdc.MysqlBinlogFiles.ingest(dir,
            cfg.walDir, afterCheckpoint = after,
            destinationFor = routeFor,
            // per-file skip-state beside the offset: steady-state pump
            // passes touch only new capture bytes, not the whole history
            stateDir = cfg.checkpointDir)
          if (last != after)
            graft.util.FsText.write(offsetPath, last, hadoopConf)
          n
        case "mongo" =>
          val after = graft.util.FsText.read(offsetPath, hadoopConf)
            .getOrElse("")
          ingestMongo(graft.cdc.MongoChangeFiles.fileSource(dir),
            after, offsetPath)
        case other => throw new IllegalArgumentException(
          s"unknown capture format '$other' (pgoutput|binlog|mongo)")
      }
  }

  /** Live socket capture: one pull per pass through the matching wire
    * client — a `START_REPLICATION` session for `pgwire://`, a
    * `COM_BINLOG_DUMP` session for `mysql://` — with the SAME resume
    * offsets and ingest loops the capture-file path uses (the offset
    * file is the pull-connector's durable position; the pg client also
    * acks it back on the socket as a standby status update so the
    * server's WAL retention advances). The continuous pump turns this
    * into the long-lived replication loop: one session per tick, each
    * starting past the durable position. */
  private def ingestSocket(url: String, offsetPath: String): Long = {
    val ep = graft.cdc.CaptureEndpoint.parse(url)
    val connectMs = ep.param("connect_timeout_ms", "10000").toInt
    val readMs = ep.param("read_timeout_ms", "60000").toInt
    // `ssl=require` upgrades the transport encrypt-only;
    // `ssl=verify-ca|verify-full&ssl_ca=/path/ca.pem` adds chain (and
    // hostname) verification — the libpq sslmode ladder on the URL
    val sslCtx = graft.cdc.Tls.fromParam(ep.param("ssl", ""),
      Some(ep.param("ssl_ca", "")))
    // `ssh=user:pass@host[:port]` dials the DB through an SSH tunnel
    // (the reference's per-peer SSHConfig, utils/ssh.go); composes
    // with ssl=require — TLS runs inside the tunneled channel
    // `ssh_key=/path/id_ed25519` switches the tunnel to publickey
    // auth (unencrypted openssh-key-v1, the SSHConfig.PrivateKey
    // form); `ssh_host_key=SHA256:…` pins the bastion host key
    // (FixedHostKey; absent = InsecureIgnoreHostKey, as the
    // reference defaults)
    val dial: graft.cdc.Ssh.Dial = ep.params.get("ssh") match {
      case Some(spec) => graft.cdc.Ssh.tunnelDial(spec, readMs,
        keyFile = ep.params.get("ssh_key"),
        hostKeyPin = ep.params.get("ssh_host_key"))
      case None => graft.cdc.Ssh.tcpDial
    }
    ep.scheme match {
      case "pgwire" =>
        val after = graft.util.FsText.read(offsetPath, hadoopConf)
          .map(_.toLong).getOrElse(-1L)
        // PEERDB_APPLICATION_NAME_PER_MIRROR_NAME (postgres.go:87-97):
        // the replication session identifies as the flow in
        // pg_stat_activity when on. PEERDB_POSTGRES_WAL_SENDER_TIMEOUT
        // (postgres_source.go:44-107): applied as a startup runtime
        // param — a bare integer is milliseconds per the GUC's unit,
        // 'NONE'/empty leaves the server default, and the server
        // validates the text (a bad value fails the connect loudly).
        val appName =
          if (Settings.get(spark, "mirror.application_name_per_mirror",
            cfg.env).exists(_.toBoolean)) cfg.flow
          else "graft"
        val wst = Settings.get(spark, "mirror.wal_sender_timeout",
          cfg.env).getOrElse("").trim
        val extraStartup =
          if (wst.isEmpty || wst.equalsIgnoreCase("NONE")) Nil
          else Seq("wal_sender_timeout" -> wst)
        val src = new graft.cdc.PgReplicationSource(ep.host, ep.port,
          user = if (ep.user.isEmpty) "postgres" else ep.user,
          database = if (ep.database.isEmpty) "postgres" else ep.database,
          password = ep.password,
          slot = ep.param("slot", "graft_slot"),
          publication = ep.param("publication", "graft_pub"),
          startLsn = math.max(after, 0L),
          connectTimeoutMs = connectMs, readTimeoutMs = readMs,
          ssl = sslCtx, dial = dial,
          appName = appName, extraStartup = extraStartup,
          emptyBatchThrottleSeconds = Settings.getLong(spark,
            "mirror.empty_batch_throttle_seconds", cfg.env).toInt)
        val (n, last) = graft.cdc.PgOutputFrames.ingestFrom(src,
          cfg.walDir, afterCommitLsn = after,
          destinationFor = routeFor)
        if (last != after)
          graft.util.FsText.write(offsetPath, last.toString, hadoopConf)
        n
      case "mysql" =>
        val after0 = graft.util.FsText.read(offsetPath, hadoopConf)
          .getOrElse("")
        // PEERDB_MYSQL_SKIP_GTID_SET (mysql/cdc.go:469-481): the
        // configured set merges into the resume offset at stream
        // start, so those transactions read as already-acked and skip
        // — the purged-binlog recovery lever. GTID mechanisms only; a
        // file:pos offset ignores it like the reference's filepos leg.
        // A malformed set fails the pull loudly (the reference wraps
        // the merge error the same way).
        val after = {
          val skip = Settings.get(spark, "mysql.skip_gtid_set",
            cfg.env).getOrElse("").trim
          if (skip.isEmpty) after0
          else try {
            import graft.cdc.TextCheckpoint
            TextCheckpoint.flavor(
              if (after0.nonEmpty) after0 else skip) match {
              case TextCheckpoint.MysqlGtid =>
                TextCheckpoint.GtidSet.parse(after0)
                  .merge(TextCheckpoint.GtidSet.parse(skip)).render
              case TextCheckpoint.MariaGtid =>
                TextCheckpoint.MariadbGtidSet.parse(after0)
                  .merge(TextCheckpoint.MariadbGtidSet.parse(skip))
                  .render
              case _ if after0.nonEmpty => after0 // filepos offset
              case _ => throw new IllegalArgumentException(
                "not a GTID set (uuid:ranges or domain-server-seq)")
            }
          } catch {
            case scala.util.control.NonFatal(e) =>
              throw new IllegalArgumentException(
                s"failed to merge mysql.skip_gtid_set '$skip' into " +
                  s"offset: ${e.getMessage}", e)
          }
        }
        val src = new graft.cdc.MysqlSocketSource(ep.host, ep.port,
          user = if (ep.user.isEmpty) "root" else ep.user,
          password = ep.password,
          serverId = ep.param("server_id", "1000").toLong,
          startFile = ep.param("start_file", "binlog.000001"),
          startPos = ep.param("start_pos", "4").toLong,
          connectTimeoutMs = connectMs, readTimeoutMs = readMs,
          ssl = sslCtx, dial = dial,
          binlogStalenessMs = (Settings.getLong(spark,
            "mysql.binlog_staleness_seconds", cfg.env) * 1000L).toInt)
        val (n, last) = graft.cdc.MysqlBinlogFiles.ingestFrom(src,
          cfg.walDir, afterCheckpoint = after,
          destinationFor = routeFor)
        if (last != after && last.nonEmpty)
          graft.util.FsText.write(offsetPath, last, hadoopConf)
        n
      case "mongo" =>
        val after = graft.util.FsText.read(offsetPath, hadoopConf)
          .getOrElse("")
        // fail fast rather than silently watching the wrong database:
        // a pathless mongo:// URL would otherwise capture zero events
        require(ep.database.nonEmpty,
          "mongo:// capture endpoint requires a database path " +
            "(mongo://host:port/dbname)")
        val src = new graft.cdc.MongoSocketSource(ep.host, ep.port,
          database = ep.database,
          connectTimeoutMs = connectMs, readTimeoutMs = readMs,
          ssl = sslCtx, dial = dial,
          // credentials on the URL enable SCRAM-SHA-256 against
          // authSource (default admin), the driver posture
          user = ep.user, password = ep.password,
          authSource = ep.param("auth_source", "admin"))
        ingestMongo(src, after, offsetPath)
      case other => throw new IllegalArgumentException(
        s"unknown capture endpoint scheme '$other' (pgwire|mysql|mongo)")
    }
  }

  /** Shared Mongo capture pass (files or socket): the
    * ResumeAfter-vs-operation-time decision from the PERSISTED watch
    * scope, the new-collection replay exemption, and the offset+scope
    * persisted TOGETHER only when the token advances — the stored
    * scope must remain the one the stored token was taken under (a
    * scope written eagerly after a no-progress pass would silently
    * disarm the reshape fallback forever). Legacy checkpoints stored
    * the pipeline JSON; they are honored read-only (conservative
    * global replay guard) and upgraded on the next advance. */
  private def ingestMongo(source: graft.cdc.Wire.MongoSource,
      after: String, offsetPath: String): Long = {
    val tables =
      if (cfg.captureTables.nonEmpty) cfg.captureTables
      else cfg.tableSet.keys.toSeq.sorted
    val pipePath = s"${cfg.checkpointDir}/_capture_pipeline"
    val pipe = graft.cdc.MongoStream.pipeline(tables)
    val (changed, prevTables) =
      graft.util.FsText.read(pipePath, hadoopConf) match {
        case None => (false, None)
        case Some(txt) if txt.startsWith("[") => // legacy pipeline JSON
          (txt != pipe, None)
        case Some(txt) =>
          val prev = txt.split("\n").filter(_.nonEmpty).toSeq
          (prev != tables, Some(prev))
      }
    // "optime:<secs>:<inc>" is the snapshot handoff's seed sentinel
    // (no token exists yet): open the stream AT the captured cluster
    // time; the first advancing token overwrites it
    val (tokenAfter, opSeed) =
      if (after.startsWith("optime:")) {
        val parts = after.split(":")
        (None, Some((parts(1).toLong, parts(2).toLong)))
      } else (Option(after).filter(_.nonEmpty), None)
    // PEERDB_MONGODB_EXCLUDED_OPERATION_TYPES (dynamicconf.go:522,
    // mongo/cdc.go:661-685): excluded op types leave the change
    // stream as a $match stage; invalid entries are dropped like the
    // reference's warn-and-ignore. Resume tokens stay valid across a
    // filter change (same collections), so the list does not enter
    // the pipeline-reshape detection.
    val (excludedOps, _) = graft.cdc.MongoStream.parseExcludedOps(
      Settings.get(spark, "mongo.excluded_operation_types", cfg.env)
        .getOrElse(""))
    val (n, last) = graft.cdc.MongoStream.ingest(source, cfg.walDir,
      tables,
      afterTokenHex = tokenAfter,
      pipelineChanged = changed,
      excludedOps = excludedOps,
      destinationFor = routeFor,
      previousTables = prevTables,
      startAtOpTime = opSeed)
    if (last != after && last.nonEmpty) {
      graft.util.FsText.write(offsetPath, last, hadoopConf)
      graft.util.FsText.write(pipePath, tables.mkString("\n"),
        hadoopConf)
    }
    n
  }

  /** Run until the WAL is drained (Trigger.AvailableNow), blocking.
    * A configured capture is drained into the WAL first. */
  def runAvailableNow(): Unit = {
    ingestCapture()
    val q = start(Trigger.AvailableNow())
    q.awaitTermination()
  }

  /** Pause/resume signal surface (the Temporal signal state machine,
    * cdc_flow.go:489-974, restated): pause stops the streaming query —
    * offsets stay in the checkpoint — and resume starts a new query from
    * them. The handle survives across pause/resume cycles. */
  final class Handle private[MirrorRunner] (trigger: Trigger,
      capturePumpIntervalMs: Long) {
    @volatile private var query: Option[StreamingQuery] = None
    @volatile private var pump: Option[Thread] = None
    def resume(): Unit = synchronized {
      require(query.forall(!_.isActive), "already running")
      ingestCapture() // catch up the capture before the stream resumes
      query = Some(start(trigger))
      // Continuous mirrors keep PULLING while running: a daemon pump
      // drains newly captured transactions into the WAL on an interval
      // (the steady-state slot-read loop); the stream's own trigger
      // picks them up. Single-writer stays intact — the pump is the
      // only WAL appender while the handle runs, and pause() joins it
      // before returning so a later resume/EXECUTE never overlaps.
      if (cfg.captureDir.isDefined && capturePumpIntervalMs > 0) {
        val t = new Thread(() => {
          // shed inherited Spark local properties (job groups from a
          // spawning pgwire session must not scope this pump)
          spark.sparkContext.clearJobGroup()
          try {
            // Live endpoints FAIL TRANSIENTLY (connect refused during
            // a restart, a dropped socket): one blip must not kill the
            // pump — the reference's pull activity retries under
            // Temporal. Failures are durable flow_errors rows as they
            // happen; only a SUSTAINED outage (maxConsecutive straight
            // failures, i.e. the endpoint is gone, or a corrupt
            // capture file that fails every tick) stops the pump. The
            // stream keeps draining what the WAL holds either way and
            // SHOW MIRRORS stays 'running'.
            val maxConsecutive = 20
            var failures = 0
            while (!Thread.interrupted() && isActive) {
              try {
                ingestCapture()
                failures = 0
                metricsTick() // lag gauges track the pump cadence
                // heartbeat failures are OPTIONAL-housekeeping
                // failures: logged, never counted against the pump —
                // a bad heartbeat query must not stop replication
                try walHeartbeatTick()
                catch {
                  case scala.util.control.NonFatal(e) =>
                    recordFlowError("wal heartbeat failed", e)
                }
              } catch {
                case e: InterruptedException => throw e
                case e: Exception =>
                  failures += 1
                  recordFlowError(
                    s"capture pull failed ($failures/$maxConsecutive)",
                    e)
                  if (failures >= maxConsecutive) throw e
              }
              // failures back off linearly (capped) so the cap spans
              // MINUTES of outage regardless of a fast pump cadence —
              // 20 ticks at a 100 ms interval would only tolerate 2 s
              Thread.sleep(math.max(capturePumpIntervalMs,
                math.min(1000L * failures, 10000L)))
            }
          } catch {
            case _: InterruptedException =>
            case e: Exception =>
              recordFlowError("capture pump stopped", e)
          }
        }, s"graft-capture-pump-${cfg.flow}")
        t.setDaemon(true)
        t.start()
        pump = Some(t)
      }
    }
    def pause(): Unit = synchronized {
      query.foreach(_.stop())
      pump.foreach { t => t.interrupt(); t.join(10000) }
      pump = None
    }
    def isActive: Boolean = query.exists(_.isActive)
    /** The terminating exception, if the stream DIED rather than was
      * paused — the difference between "paused" and "error" in
      * SHOW MIRRORS (a crashed mirror must not report as paused). */
    def lastError: Option[Throwable] =
      query.flatMap(q => Option(q.exception.orNull))
  }

  def handle(trigger: Trigger): Handle = handle(trigger, 0L)

  /** `capturePumpIntervalMs` > 0 keeps draining the capture while the
    * stream runs (continuous mirrors); 0 drains only at resume. */
  def handle(trigger: Trigger, capturePumpIntervalMs: Long): Handle =
    new Handle(trigger, capturePumpIntervalMs)

  def start(trigger: Trigger): StreamingQuery =
    spark.readStream
      .format("graft.cdc.ChangeLogSourceProvider")
      .option("path", cfg.walDir)
      .option("maxBatchSize", cfg.maxBatchSize.toString)
      .option("startingCheckpoint", cfg.snapshotCheckpoint.toString)
      .load()
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        syncAndNormalize(batch, batchId)
      }
      .start()

  /** The per-micro-batch sync + normalize. Visible for batch-mode reuse. */
  def syncAndNormalize(batch: DataFrame, batchId: Long): Unit = {
    // The batch feeds three actions (raw append, merge planning, merge
    // join) — pin it so the source scans once per micro-batch, not once
    // per action (visible as 3-5× numInputRows in the metrics otherwise).
    batch.persist()
    try syncAndNormalizePinned(batch, batchId)
    catch {
      case e: Throwable =>
        // LogFlowError (alerting.go:359-412): a failed batch leaves a
        // durable flow_errors row before the stream dies — the row, not
        // the dead process, is what ops sees.
        recordFlowError(s"batch $batchId", e)
        throw e
    }
    finally batch.unpersist()
  }

  /** The lua script's transform hooks, when it defines any — the
    * reference attaches its stream adapter only then (flowable.go:
    * 496-511); a pure `onRecord` routing script leaves the pulled
    * stream untouched. Probed ONCE per runner, on the driver. */
  private lazy val luaAdaptScript: Option[String] =
    cfg.luaScript.filter { s =>
      val hooks = graft.transform.LuaAdapt.hooksOf(s, cfg.luaLibs)
      hooks("transformRecord") || hooks("transformRow")
    }

  private def syncAndNormalizePinned(batch0: DataFrame, batchId: Long)
      : Unit = {
    // The transform script runs between pull and staging (the reference's
    // adaptStream seam, flowable.go:485-512): the raw table — the durable
    // changefeed — already holds transformed images, so normalize, replays
    // and catch-up all see one consistent stream. SQL transform first,
    // then the lua transformRecord/transformRow hooks ([[graft.transform
    // .LuaAdapt]]) when the script defines them.
    val sqlT = cfg.transformSql
      .map(graft.transform.RowTransform.sqlTransform(batch0, _))
      .getOrElse(batch0)
    val batch = luaAdaptScript
      .map(graft.transform.LuaAdapt.records(sqlT, _, cfg.luaLibs,
        cfg.env))
      .getOrElse(sqlT)
    // The lua stage is imperative per-record work feeding multiple
    // actions below (raw write, stats agg, queue publish) — pin its
    // output so a non-deterministic script (peerdb.Now/UUID) can never
    // stage one image and publish another, and the interpretation cost
    // is paid once.
    if (luaAdaptScript.isDefined) batch.persist()
    try syncAndNormalizeBatch(batch, batchId)
    finally if (luaAdaptScript.isDefined) batch.unpersist()
  }

  private def syncAndNormalizeBatch(batch0: DataFrame, batchId: Long)
      : Unit = {
    val batch = embedMetadata(batch0)
    val raw = toRaw(batch, batchId)

    // Raw sync replaces exactly this batch's `_peerdb_batch_id` partition
    // (dynamic partition overwrite), so a foreachBatch replay — including
    // a failure between the write and the HWM update — lands byte-identical
    // rows instead of appending duplicates. The HWM remains as a cheap
    // skip of already-landed batches on full-history replay.
    if (rawHighWaterMark.forall(batchId > _)) {
      raw.write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(RawTable.BatchId)
        .parquet(cfg.rawDir)
      graft.util.FsText.write(hwmPath, batchId.toString, hadoopConf)
    }

    // One driver-side summary of the pinned batch, per (destination
    // table, record type): count, max checkpointId, min commit time —
    // bounded by tables × record types. Record counts, never the
    // normalize plan, decide which tables have changes to merge; the
    // same rows feed the stats catalog.
    val groups = BatchGroup.of(batch0)
    val changes = groups.filter(_.recordType <= ChangeRecord.TypeDelete)
    val changedTables = changes.map(_.table).toSet

    // Stats: batch bookkeeping after the raw rows land (sync_time marks
    // staged-but-unnormalized — the normalize-lag probe keys on it), end
    // events after the merge below.
    val statEndLsn: Option[Long] = stats.flatMap { st =>
      st.addCdcBatch(cfg.flow, batchId)
      if (groups.isEmpty) None
      else {
        val endLsn = groups.map(_.maxCheckpoint).max
        st.updateCdcBatch(cfg.flow, batchId, groups.map(_.records).sum,
          endLsn, firstRowCommitMicros =
            Some(groups.map(_.minCommitMicros).min))
        st.updateLatestLsnAtSource(cfg.flow, endLsn)
        st.addBatchTables(cfg.flow, batchId,
          changes.groupBy(_.table).toSeq.map { case (table, gs) =>
            def n(t: Int) = gs.filter(_.recordType == t).map(_.records).sum
            StatsCatalog.TableOps(table, n(ChangeRecord.TypeInsert),
              n(ChangeRecord.TypeUpdate), n(ChangeRecord.TypeDelete))
          })
        Some(endLsn)
      }
    }

    // RelationRecords (schema-change deltas riding the stream, recordType
    // 3) widen the live payload schema BEFORE this batch normalizes:
    // records after the delta in the same batch already carry the new
    // column; earlier ones parse to NULL — the reference's backfill-as-
    // null semantics. Driver-side collect is fine: deltas are rare and
    // tiny, and the batch summary says whether there are any, so a batch
    // without one launches no job for them.
    if (groups.exists(_.recordType == ChangeRecord.TypeRelation))
      raw.filter(col(RawTable.RecordType) === ChangeRecord.TypeRelation)
        .select(RawTable.DestinationTable, RawTable.Data)
        .collect().foreach { r =>
          val table = r.getString(0)
          val delta0 = SchemaEvolution.deltaFromJson(r.getString(1))
          // Excluded columns re-announced by a RelationRecord stay excluded
          // (isAddedColumnAndNotExcluded, cdc.go:1327-1334).
          val exclude = writers.get(table)
            .map(_._1.excludeColumns).getOrElse(Set.empty)
          val delta = delta0.copy(addedColumns =
            delta0.addedColumns.filterNot(c => exclude.contains(c.name)))
          if (delta.addedColumns.nonEmpty)
            liveSchemas.updateWith(table)(
              _.map(SchemaEvolution.apply(_, delta)))
        }

    // Fan out per destination table (the normalize loop walks the mirror's
    // table set, flowable_core.go:791+). Records for tables outside the
    // set are ignored — TableMapping semantics, uniform for single- and
    // multi-table mirrors. Relation/message records (type ≥ 3) stay in
    // the raw changefeed but never reach normalize.
    //
    // QUEUE destinations replace this whole step: the reference's Kafka/
    // PubSub/EventHubs connectors are sync-only (kafka.go SyncRecords;
    // no normalize), so each batch publishes its shaped records over the
    // wire instead of merging.
    if (cfg.queueUrl.isDefined)
      publishQueue(raw, batch, batchId, changedTables)
    // CLICKHOUSE destinations normalize SERVER-SIDE: the raw records
    // ship to the CH raw table and one INSERT…SELECT per table runs
    // there — the reference's CH flow, where no per-key MERGE exists
    // (the ReplacingMergeTree engine is the merge).
    else if (chDest.isDefined) chDest.get.syncAndNormalize(raw, batchId)
    else writers.foreach { case (table, (tc, writer)) =>
      if (changedTables(table)) {
        val normalized =
          changeSet(raw, table, tc.pkColumns, liveSchemas(table))
        warehouseDest match {
          case Some(w) => w.load(table, tc, normalized, batchId)
          case None => applyChanges(table, writer, keysOf(tc),
            normalized, batchId = Some(batchId))
        }
      }
    }

    // Normalize done: target LSN catches up to source, the batch closes
    // (UpdateEndTimeForCDCBatch), and the whole batch's events land as
    // one durable segment.
    stats.foreach { st =>
      statEndLsn.foreach(st.updateLatestLsnAtTarget(cfg.flow, _))
      st.endCdcBatches(cfg.flow, batchId)
      st.flush()
    }

    // Raw retention after normalize (the reference deletes raw rows past
    // the cleanup threshold at exactly this point; setting 0 = keep all).
    val keep = Settings.getLong(spark,
      "mirror.raw_batch_cleanup_threshold", cfg.env)
    if (keep > 0) Maintenance.cleanupRaw(spark, cfg.rawDir, batchId, keep)

    metricsTick() // attached gauges observe every batch boundary
  }

  /** Change-event rows → the raw staging schema (SURVEY §2.4).
    *
    * The uid is the zero-padded checkpointId (LSN), NOT a random/hashed
    * id: the normalizer breaks commit-timestamp ties on uid, and records
    * of one transaction share a commit time — a uid that doesn't sort in
    * WAL order would let the wrong change win the dedup. The reference
    * guarantees the same property with a strictly increasing per-record
    * ingest timestamp (flow/connectors/utils/stream.go time.Now()
    * .UnixNano()); here the LSN itself carries the order. %019d covers
    * the full non-negative Long range so lexicographic = numeric order. */
  /** Metadata items injection on a change-record frame — the
    * reference's processTuple additions (postgres/cdc.go:377-384):
    * `_peerdb_source_schema` when
    * mirror.source_schema_as_destination_column is on (the schema
    * name from the record's qualified source table), and the
    * `_peerdb_origin_transaction_id` / `_peerdb_origin_checkpoint_id`
    * / `_peerdb_origin_commit_time_nano` triple when
    * queue.origin_metadata_as_destination_column is on
    * (record_items.go:72-76 UpdateWithBaseRecord;
    * PEERDB_ORIGIN_METADATA_AS_DESTINATION_COLUMN targets queue
    * flows). Keys embed INSIDE the data/match JSON images — items
    * travel with the record — so the raw table, the normalize
    * extraction, the queue payloads and the Lua record env all see
    * them. One injection point covers every capture transport;
    * non-change records (relation deltas, messages) pass untouched. */
  private def embedMetadata(batch: DataFrame): DataFrame = {
    val originMeta = Settings.get(spark,
      "queue.origin_metadata_as_destination_column", cfg.env)
      .exists(_.toBoolean)
    if (!srcSchemaCol && !originMeta) return batch
    val frags = Seq.newBuilder[org.apache.spark.sql.Column]
    if (srcSchemaCol) {
      val schemaName = when(instr(col("sourceTable"), ".") > 0,
        substring_index(col("sourceTable"), ".", 1)).otherwise(lit(""))
      val esc = regexp_replace(
        regexp_replace(schemaName, "\\\\", "\\\\\\\\"),
        "\"", "\\\\\"")
      frags += concat(
        lit("\"" + Normalizer.SourceSchemaCol + "\":\""), esc, lit("\""))
    }
    if (originMeta) {
      frags += concat(lit("\"_peerdb_origin_transaction_id\":"),
        col("transactionId").cast("string"))
      frags += concat(lit("\"_peerdb_origin_checkpoint_id\":"),
        col("checkpointId").cast("string"))
      frags += concat(lit("\"_peerdb_origin_commit_time_nano\":"),
        (col("commitTimeMicros") * 1000L).cast("string"))
    }
    val inject = concat_ws(",", frags.result(): _*)
    def embed(c: org.apache.spark.sql.Column)
        : org.apache.spark.sql.Column =
      when(col("recordType") > ChangeRecord.TypeDelete || c.isNull, c)
        .otherwise(when(c === "{}",
          concat(lit("{"), inject, lit("}")))
          .otherwise(concat(lit("{"), inject, lit(","),
            substring(c, 2, Int.MaxValue))))
    batch.withColumn("data", embed(col("data")))
      .withColumn("matchData", embed(col("matchData")))
  }

  private def toRaw(batch: DataFrame, batchId: Long): DataFrame =
    batch.select(
      format_string("%019d", col("checkpointId")).as(RawTable.Uid),
      col("commitTimeMicros").as(RawTable.Timestamp),
      col("destinationTable").as(RawTable.DestinationTable),
      col("data").as(RawTable.Data),
      col("recordType").as(RawTable.RecordType),
      col("matchData").as(RawTable.MatchData),
      lit(batchId).as(RawTable.BatchId),
      col("unchangedToastColumns").as(RawTable.UnchangedToastColumns))

  private def rawHighWaterMark: Option[Long] =
    graft.util.FsText.read(hwmPath, hadoopConf).map(_.trim.toLong)

  private val queueHwmPath = s"${cfg.checkpointDir}/graft-queue-hwm"
  private def queueHighWaterMark: Option[Long] =
    graft.util.FsText.read(queueHwmPath, hadoopConf).map(_.trim.toLong)

  /** Publish one batch's change records to the queue destination, then
    * advance the durable queue high-water mark — SetLastOffset parity
    * (kafka.go:330-338): a restarted mirror replaying its WAL never
    * re-produces batches the broker already acked. A crash BETWEEN the
    * broker ack and the HWM write re-publishes that one batch —
    * at-least-once with key = uid, so a keyed/compacting consumer
    * converges to the same state (the reference's posture: no
    * idempotent-producer session, `kgo.Record` keys carry dedup). */
  private def publishQueue(raw: DataFrame, batch: DataFrame,
      batchId: Long, changedTables: Set[String]): Unit = {
    if (queueHighWaterMark.exists(batchId <= _)) return
    val url = cfg.queueUrl.get
    val kafka = graft.sinks.ShapedQueue.KafkaUrl
    val es = graft.sinks.ShapedQueue.EsUrl
    val changes = raw.filter(
      col(RawTable.RecordType) <= ChangeRecord.TypeDelete)
    // `onRecord` routing (script_lang 'lua'): the script shapes each
    // record off the FULL change image (`batch` — source table and
    // transaction id included, which the reduced raw projection
    // drops), exactly the reference's per-record Lua call
    // (kafka.go:340-390)
    lazy val luaShaped: Option[DataFrame] =
      cfg.luaScript.map(
        graft.transform.LuaQueue.records(batch, _, cfg.luaLibs,
          cfg.env))
    val n = url match {
      // es:// never consults the script (GraftSql excludes es from
      // queue-hook destinations — its _id contract has no hook), so
      // the shaped frame must not even be PLANNED for it
      case es(h, p) =>
        // Stamp the id-scheme marker BEFORE reading the prior HWM is
        // overwritten below: a mirror publishing its FIRST batch today
        // provably holds only current-scheme documents; one that
        // already published under an older build (HWM present, marker
        // absent) may hold legacy '_'-joined ids — record Legacy so
        // VALIDATE MIRROR keeps demanding the RESYNC instead of the
        // next publish silently laundering the mirror to 'current'.
        val marker = EsIdScheme.markerPath(cfg.checkpointDir)
        if (graft.util.FsText.read(marker, hadoopConf).isEmpty)
          graft.util.FsText.write(marker,
            if (queueHighWaterMark.isEmpty) EsIdScheme.Current
            else EsIdScheme.Legacy, hadoopConf)
        publishEs(raw, s"http://$h:$p", changedTables)
      // a lua script's shaped records ride the SHARED routing
      // ([[graft.sinks.ShapedQueue]] — the same leg QRep dest_url
      // publishes through)
      case u if luaShaped.isDefined =>
        graft.sinks.ShapedQueue.publish(luaShaped.get, u,
          scriptAssignsPartitions = true, env = cfg.env)
      // no-script defaults off the raw change frame
      case kafka(h, p, q) =>
        val params = graft.sinks.ShapedQueue.kafkaParams(q)
        // the default JSON records never assign partitions
        graft.sinks.ShapedQueue.requireManualHasScript(params,
          scriptAssigns = false)
        graft.sinks.KafkaPublish.publish(
          graft.sinks.QueueSink.defaultRecords(changes),
          h, p.toInt,
          acks = params.get("acks").map(_.toInt).getOrElse(-1),
          // ssh=user:pass@bastion[:port] — the destination socket
          // rides the same tunnel stack as the capture sources
          sshSpec = params.get("ssh"),
          forceTopicCreation = graft.sinks.ShapedQueue
            .forceTopicCreationOf(params, spark, cfg.env))
      case u if u.startsWith("eventhubs://") =>
        // live Event Hubs send (eventhub/ SyncRecords): FNV-1a32
        // partition routing + per-(hub, partition) ordered batches
        // over the public REST send API with SAS auth
        val ep = graft.cdc.CaptureEndpoint.parse(u)
        val ns = if (ep.database.nonEmpty) ep.database else "ns"
        graft.sinks.EventHubsSink.publish(
          graft.sinks.EventHubsSink.defaultRecords(changes,
            namespace = ns,
            partitionCount = ep.param("partition_count", "4").toInt,
            maxPerBatch = ep.param("max_per_batch", "500").toInt), u)
      case u if u.startsWith("pubsub://") =>
        // live Pub/Sub publish (pubsub.go SyncRecords): per-key
        // ordered batches over the public REST API; the queue HWM
        // below is the SetLastOffset role — a failed publish throws
        // before it advances, so the batch redelivers
        graft.sinks.PubSubSink.publish(
          graft.sinks.PubSubSink.defaultRecords(changes), url)
      case other => throw new IllegalArgumentException(
        "queue url must be kafka://host:port[?acks=N][&ssh=u:p@host], " +
          "es://host:port, pubsub://host:port/project[?token=…] or " +
          s"eventhubs://host:port/ns?key_name=…&key=…, got '$other'")
    }
    stats.foreach(_.logFlowInfo(cfg.flow,
      s"batch $batchId: published $n records to $url"))
    graft.util.FsText.write(queueHwmPath, batchId.toString, hadoopConf)
  }

  /** Elasticsearch destination for one batch: per table, the batch
    * DEDUPS to latest-per-key first (the reference bulk-dispatches the
    * deduped batch, flow/connectors/elasticsearch/) and each key
    * becomes an `index` action with `_id` = '_'-joined PKs (natural
    * upsert) or a `delete` action; the NDJSON ships via
    * [[graft.sinks.EsSink.bulkPublish]], one HTTP connection per
    * Spark partition. Returns actions shipped. */
  private def publishEs(raw: DataFrame, baseUrl: String,
      changedTables: Set[String]): Long = {
    var total = 0L
    writers.foreach { case (table, (tc, _)) =>
      if (changedTables(table)) {
        val normalized =
          changeSet(raw, table, tc.pkColumns, liveSchemas(table))
        // With the disambiguator on, the schema name travels in the
        // document BODY (the reference ships record items verbatim into
        // the ES document); the `_id` stays pk-derived — matching the
        // reference, which does not add the item to the key either.
        val payloadCols = liveSchemas(table).fieldNames.toSeq ++
          (if (srcSchemaCol) Seq(graft.cdc.Normalizer.SourceSchemaCol)
           else Nil)
        // `_id`: a single PK ships as its plain string value; a
        // COMPOSITE key hashes (the reference's posture,
        // elasticsearch.go:226-240: one column → fmt.Sprint, else a
        // sha256-derived id). Values are null-flagged AND
        // length-prefixed before hashing, so neither ("a_b","c") vs
        // ("a","b_c") nor (NULL,"x") vs ("","x") can produce the same
        // document id — either collision would silently
        // overwrite/delete across distinct rows.
        // MIGRATION: changing this derivation orphans documents
        // written under an older scheme (updates/deletes target the
        // NEW ids) — a composite-key ES mirror created before the
        // null-flag encoding must RESYNC after upgrading.
        val idExpr =
          if (tc.pkColumns.sizeIs == 1)
            col(tc.pkColumns.head).cast("string")
          else sha2(concat(tc.pkColumns.flatMap { c =>
            val raw = col(c).cast("string")
            val s = coalesce(raw, lit(""))
            Seq(when(raw.isNull, lit("n")).otherwise(lit("v")),
              length(s).cast("string"), lit(":"), s, lit("|"))
          }: _*), 256)
        val shaped = graft.sinks.EsSink.bulkRecords(normalized,
          index = table,
          id = idExpr,
          source = to_json(struct(payloadCols.map(col): _*)),
          deleted = col(RawTable.IsDeleted))
        total += graft.sinks.EsSink.bulkPublish(shaped, baseUrl)
      }
    }
    total
  }

  /** Table addition to a live mirror (the add-tables signal,
    * cdc_flow.go table-addition path): replay the new table's WAL history
    * as a batch and merge it, then restart the mirror with the table in
    * `extraTables`. The restarted stream may re-deliver records between
    * the catch-up point and its checkpoint — the version-idempotent merge
    * absorbs the overlap. */
  /** In-flight table additions: table → (jobGroup, destination dir).
    * The registry is what makes [[cancelTableAddition]] able to abort
    * the snapshot mid-replay. */
  private val addingTables =
    scala.collection.concurrent.TrieMap.empty[String, (String, String)]

  def catchUpTable(table: String, tc: TableConfig): Unit = {
    // Live pgwire source: the stream only carries tables the
    // PUBLICATION exposes — a table added to the mirror but absent
    // from the publication would catch up once and then silently
    // never receive changes. The reference VERIFIES membership for
    // custom publications rather than altering them
    // (AddTablesToPublication, postgres_source.go:1070-1096: missing
    // tables are a loud TablesNotInPublicationError); the engine's
    // publications are always user-named, so the same check-only
    // posture applies.
    cfg.captureDir
      .filter(u => graft.cdc.CaptureEndpoint.isUrl(u) &&
        graft.cdc.CaptureEndpoint.parse(u).scheme == "pgwire")
      .foreach(PgPublication.requireTablePublished(cfg, _, table))
    val slice0 = graft.cdc.ChangeLogBatch.read(spark, cfg.walDir)
      .filter(col("destinationTable") === table &&
        col("recordType") <= ChangeRecord.TypeDelete)
    // Catch-up replays the WAL from before the table joined — the same
    // transform must apply or the late table would diverge from tables
    // that streamed through it.
    val slice = cfg.transformSql
      .map(graft.transform.RowTransform.sqlTransform(slice0, _))
      .getOrElse(slice0)
    val raw = toRaw(embedMetadata(slice), batchId = -1L)
    val dir = cfg.copy(extraTables = cfg.extraTables + (table -> tc))
      .tableSet(table)._2
    val writer = new MergeWriter(spark, dir, keysOf(tc),
      softDeleteCol = cfg.softDeleteColName,
      syncedAtCol = cfg.syncedAtColName)
    // the replay runs under a job group so a concurrent
    // cancelTableAddition can abort it mid-snapshot; the flag closes
    // the between-jobs window cancelJobGroup cannot cover
    val group = s"graft-addtable-${cfg.flow}-$table"
    cancelRequested.remove(table)
    addingTables.put(table, (group, dir))
    spark.sparkContext.setJobGroup(group,
      s"table addition catch-up: $table", interruptOnCancel = true)
    def checkCanceled(): Unit =
      if (cancelRequested.contains(table))
        throw new java.util.concurrent.CancellationException(
          s"table addition canceled: $table")
    try {
      checkCanceled()
      // the WAL slice's record count decides, not the normalize plan
      val empty = raw.isEmpty // job 1
      checkCanceled()
      if (!empty) applyChanges(table, writer, keysOf(tc), // job 2+
        changeSet(raw, table, tc.pkColumns, tc.effectiveSchema))
      checkCanceled()
    } catch {
      case scala.util.control.NonFatal(e) =>
        // canceled (flag or job kill) or failed: never leave a partial
        // destination behind — a cancel that already deleted it may
        // have raced a still-running write job
        if (cancelRequested.contains(table)) deletePartialAddition(table)
        throw e
    } finally {
      spark.sparkContext.clearJobGroup()
      addingTables.remove(table)
    }
  }

  /** CancelTableAddition (route.proto:841; the e2e scenario in
    * flow/e2e/cancel_table_addition_test.go): abort an in-flight
    * [[catchUpTable]] snapshot and remove its partial destination, so
    * the mirror keeps replicating its PRE-addition table set and a
    * later retry starts clean. Safe to call whether or not the replay
    * is still running (idempotent, like the RPC's idempotency key):
    * returns true when a live snapshot job was actually interrupted.
    *
    * Two protections a naive cancel lacks: (1) an ESTABLISHED table —
    * one already in `cfg.extraTables` or the primary — is never
    * deleted; cancel only reverts tables still being ADDED (calling
    * cancel on a long-replicating table must not destroy it).
    * (2) cancellation is flagged before the job-group cancel, and
    * [[catchUpTable]] re-checks the flag between its jobs and
    * re-cleans in its own error path — `cancelJobGroup` only kills
    * ACTIVE jobs, so a cancel landing between the replay's jobs would
    * otherwise let a later job resurrect the deleted directory. */
  def cancelTableAddition(table: String): Boolean = {
    if (cfg.tableSet.contains(table)) return false // established
    cancelRequested.put(table, true)
    val interrupted = addingTables.get(table) match {
      case Some((group, _)) =>
        spark.sparkContext.cancelJobGroup(group)
        true
      case None => false
    }
    deletePartialAddition(table)
    interrupted
  }

  private val cancelRequested =
    scala.collection.concurrent.TrieMap.empty[String, Boolean]

  private def deletePartialAddition(table: String): Unit = {
    // non-primary tables always live under the _tables sibling
    val dir = s"${cfg.destDir}_tables/$table"
    if (table == cfg.destinationTable) return
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    // retry: a canceled job may still hold the dir open for a beat
    // while its tasks unwind
    val path = new org.apache.hadoop.fs.Path(dir)
    val deadline = System.nanoTime + 10000000000L
    var deleted = !fs.exists(path) || fs.delete(path, true)
    while (!deleted && System.nanoTime < deadline) {
      Thread.sleep(100)
      deleted = !fs.exists(path) || fs.delete(path, true)
    }
  }

  /** Table removal from a live mirror (the remove-tables signal,
    * cdc_flow.go table state machine): pause, then restart with the
    * returned config — the table's records are ignored from then on
    * (exclusion by omission, same TableMapping semantics as before the
    * table was ever added). Set `dropDestination` to also delete the
    * replicated data; the default parks it read-only in place. The
    * primary `destinationTable` cannot be removed — drop the mirror
    * instead. */
  def removeTable(table: String, dropDestination: Boolean = false)
      : MirrorConfig = {
    require(table != cfg.destinationTable,
      "cannot remove the primary table; drop the mirror")
    require(cfg.extraTables.contains(table), s"unknown table $table")
    if (dropDestination) {
      val dir = cfg.tableSet(table)._2
      val fs = org.apache.hadoop.fs.FileSystem.get(
        spark.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    }
    cfg.copy(extraTables = cfg.extraTables - table)
  }

  /** Initial full load (the parallel snapshot phase, snapshot_flow.go:
    * 103-293): merge the source rows as inserts versioned at
    * `cfg.snapshotCheckpoint`, so any change the stream replays afterwards
    * (strictly newer version) wins, and replaying the snapshot itself is
    * idempotent. Partition-parallel: `snapshot` arrives already split by
    * the QRep partitioner when pulled from a live source. */
  def bootstrapSnapshot(snapshot: DataFrame): Unit =
    bootstrapSnapshot(cfg.destinationTable, snapshot)

  /** Per-table variant (a mirror replicates a table SET; the snapshot
    * phase loads each routed table — snapshot_flow.go runs one clone
    * per table mapping). Dispatches like the stream's batch path: a
    * live `warehouseUrl` destination gets the snapshot through the
    * same staging→COPY→MERGE loop the CDC batches use. */
  def bootstrapSnapshot(table: String, snapshot0: DataFrame,
      /** Qualified SOURCE relation this snapshot was read from — the
        * schema-name source for the disambiguator column. Snapshot and
        * stream MUST agree on the value per row (it is part of the key:
        * a mismatch would leave the snapshot row beside the stream's
        * instead of beneath it); the live flows pass their `sourceRel`.
        * Null = fall back to the destination name's schema part. */
      sourceTable: String = null): Unit = {
    val (tc, writer) = writers(table)
    val srcSchemaName: String = {
      val s = Option(sourceTable).getOrElse(table)
      if (s.contains(".")) s.substring(0, s.indexOf('.')) else ""
    }
    // the snapshot clone inherits the mirror's script
    // (snapshot_flow.go:220 propagates Script into the QRep config),
    // and the qrep leg reads `transformRow` — typed rows, so the
    // QRep bridge applies ([[graft.transform.LuaRowTransform]])
    val snapshot = cfg.luaScript
      .filter(s => graft.transform.LuaAdapt
        .hooksOf(s, cfg.luaLibs)("transformRow"))
      .map(graft.transform.LuaRowTransform.rows(snapshot0, _,
        cfg.luaLibs, cfg.env))
      .getOrElse(snapshot0)
    val changes0 = snapshot
      .withColumn(RawTable.Version, lit(cfg.snapshotCheckpoint))
      .withColumn(RawTable.IsDeleted, lit(false))
      .withColumn(graft.cdc.Normalizer.AbsentCols,
        array().cast("array<string>"))
    val changes =
      if (!srcSchemaCol) changes0
      else changes0.withColumn(graft.cdc.Normalizer.SourceSchemaCol,
        lit(srcSchemaName))
    chDest match {
      case Some(ch) =>
        val base = snapshot.select(tc.effectiveSchema.fieldNames.toSeq
          .map(col): _*)
        ch.loadSnapshot(table, tc,
          if (!srcSchemaCol) base
          else base.withColumn(graft.cdc.Normalizer.SourceSchemaCol,
            lit(srcSchemaName)),
          cfg.snapshotCheckpoint)
      case None => warehouseDest match {
        case Some(w) => w.load(table, tc, changes,
          batchId = cfg.snapshotCheckpoint)
        case None => applyChanges(table, writer, keysOf(tc), changes)
      }
    }
  }

  /** Point-in-time reconstruction of the primary table from the raw
    * changefeed: one-shot normalize of every batch ≤ `maxBatchId`. The
    * incremental merge chain and this recompute MUST agree (asserted in
    * MirrorEqualitySpec) — the engine's core CDC invariant, and the raw
    * table's reason to exist (§2.4: normalize reads a batch-id range).
    * Tombstones are filtered under either delete policy. */
  def destinationAsOf(maxBatchId: Long): DataFrame =
    changeSet(
      spark.read.parquet(cfg.rawDir)
        .filter(col(RawTable.BatchId) <= maxBatchId),
      cfg.destinationTable, cfg.pkColumns,
      liveSchemas(cfg.destinationTable))
      .drop(Normalizer.AbsentCols)
      .filter(!col(RawTable.IsDeleted))

  /** The normalized destination table (soft deletes filtered). */
  def destination(): DataFrame = destination(cfg.destinationTable)

  /** A specific destination table from the mirror's table set. */
  def destination(table: String): DataFrame = {
    val d = writers(table)._2.read()
    if (cfg.softDelete) d.filter(!col(RawTable.IsDeleted)) else d
  }
}
