package graft.cdc

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.RawTable

/** Parquet-backed MERGE INTO with hash-bucketed partition pruning.
  *
  * The destination table lives as parquet partitioned by
  * `_g_bucket = pmod(hash(pk...), numBuckets)`. Merging a (deduped) change
  * set touches ONLY the buckets that contain changed keys:
  *
  *   1. compute the affected bucket set from the incoming batch (driver-side
  *      small list);
  *   2. read existing rows for those buckets only (partition pruning — the
  *      scan never touches clean buckets);
  *   3. latest-version-wins anti/union combine, with TOAST-absent columns
  *      resolved by coalescing to the destination value
  *      (the `coalesce`-by-presence strategy replacing the reference's
  *      per-combination UPDATE branches, snowflake merge_stmt_generator
  *      .go:29-225);
  *   4. overwrite only the affected bucket partitions (dynamic partition
  *      overwrite).
  *
  * At 100 TB with N buckets, a batch touching k distinct keys rewrites at
  * most min(k, N) buckets — work proportional to the change volume, not the
  * table size. Re-applying the same batch is idempotent: version comparison
  * keeps the newest row, ties break toward the incoming row which is
  * byte-identical on replay (at-least-once safety, core.go:204-206).
  *
  * Why not a real lakehouse MERGE: zero-dependency constraint (no Delta on
  * the classpath); this reproduces the same pruning + rewrite shape with
  * plain parquet.
  */
final class MergeWriter(
    spark: SparkSession,
    tablePath: String,
    pkColumns: Seq[String],
    numBuckets: Int = 64,
    /** Physical destination name of the soft-delete flag — the
      * SoftDeleteColName table option (flow/model/model.go:167; default
      * `_PEERDB_IS_DELETED` shape). Internally the engine always speaks
      * [[RawTable.IsDeleted]]; the rename happens at the storage boundary
      * (write + scan), so only the parquet files carry the custom name. */
    softDeleteCol: String = RawTable.IsDeleted,
    /** When set, every row WRITTEN by a merge is stamped with the merge
      * wall-clock (epoch micros) under this column — SyncedAtColName
      * (model.go:168), the `SYNCED_AT = CURRENT_TIMESTAMP` branch of the
      * warehouse MERGE generators. Rows that merely survive in a
      * rewritten bucket keep their previous stamp. */
    syncedAtCol: Option[String] = None,
    nowMicros: () => Long = () => System.currentTimeMillis() * 1000L) {

  private val BucketCol = "_g_bucket"

  /** Internal → physical column names, applied just before a write. */
  private def toPhysical(df: DataFrame): DataFrame =
    if (softDeleteCol == RawTable.IsDeleted) df
    else df.withColumnRenamed(RawTable.IsDeleted, softDeleteCol)

  /** Physical → internal, applied right after a scan. */
  private def toLogical(df: DataFrame): DataFrame =
    if (softDeleteCol == RawTable.IsDeleted) df
    else df.withColumnRenamed(softDeleteCol, RawTable.IsDeleted)

  private def logicalSchema(s: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.types.StructType =
    if (softDeleteCol == RawTable.IsDeleted) s
    else org.apache.spark.sql.types.StructType(s.fields.map(f =>
      if (f.name == softDeleteCol) f.copy(name = RawTable.IsDeleted)
      else f))

  private def bucketOf(df: DataFrame) =
    pmod(hash(pkColumns.map(col): _*), lit(numBuckets))

  // All table metadata I/O goes through the Hadoop FileSystem API: the
  // destination at scale is HDFS/object storage, not the driver's disk.
  private def fs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketDirs: Seq[String] = {
    val d = new org.apache.hadoop.fs.Path(tablePath)
    val f = fs
    if (!f.exists(d)) Nil
    else f.listStatus(d).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$BucketCol="))
      .map(_.getPath.getName)
  }

  def exists: Boolean = bucketDirs.nonEmpty

  private def schemaFile =
    new org.apache.hadoop.fs.Path(tablePath, "_graft_schema.json")

  private def rememberSchema(df: DataFrame): Unit = {
    val out = fs.create(schemaFile, true)
    try out.write(df.drop(BucketCol).schema.json
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  private def storedSchema: Option[org.apache.spark.sql.types.StructType] = {
    val f = fs
    if (!f.exists(schemaFile)) None
    else {
      val in = f.open(schemaFile)
      val json =
        try new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      Some(org.apache.spark.sql.types.DataType.fromJson(json)
        .asInstanceOf[org.apache.spark.sql.types.StructType])
    }
  }

  /** Scan of the stored table that never trusts single-footer inference.
    * After an ADD COLUMN, buckets untouched since the widening still hold
    * narrow files; plain inference picks ONE arbitrary footer and can make
    * the widened column invisible (dropping its values on the next merge).
    * The persisted `_graft_schema.json` is the widest schema as of the last
    * write — use it outright (also skips the footer-read job entirely);
    * tables predating the schema file fall back to a distributed
    * mergeSchema footer union. */
  private def tableScan(sess: SparkSession): DataFrame = {
    val reader = sess.read.option("basePath", tablePath)
    toLogical(storedSchema match {
      case Some(s) =>
        reader.schema(s.add(BucketCol,
          org.apache.spark.sql.types.IntegerType)).parquet(tablePath)
      case None =>
        reader.option("mergeSchema", "true").parquet(tablePath)
    })
  }

  /** The persisted widest schema of the stored table (payload + engine
    * meta columns, INTERNAL names), if it has ever been written — lets a
    * restarted mirror recover post-ADD-COLUMN payload schemas its static
    * config predates. */
  def currentSchema: Option[org.apache.spark.sql.types.StructType] =
    storedSchema.map(logicalSchema)

  /** Current table state (all buckets); typed-empty after a full hard
    * delete (schema persisted alongside the data). */
  def read(): DataFrame =
    if (exists) tableScan(spark).drop(BucketCol)
    else {
      val schema = storedSchema.getOrElse(throw new IllegalStateException(
        s"no data and no $schemaFile — table never written"))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        logicalSchema(schema))
    }

  /** Affected-rows read: the stored rows whose primary key appears in
    * `keys`, with the same bucket-level partition pruning the merge path
    * uses — only the buckets containing a requested key are listed and
    * scanned, so the cost tracks the key set, not the table size. The
    * incremental-view maintenance path ([[graft.mirror.IncrementalAgg]])
    * reads before/after images through this. */
  def readForKeys(keys: DataFrame): DataFrame = {
    if (!exists) read()
    else {
      val sess = keys.sparkSession
      val k = keys.select(pkColumns.map(col): _*).distinct()
      val buckets = k.select(bucketOf(k).as(BucketCol)).distinct()
        .collect().map(_.getInt(0)) // driver-side: ≤ numBuckets ints
      tableScan(sess)
        .filter(col(BucketCol).isin(buckets.map(Integer.valueOf): _*))
        .drop(BucketCol)
        .join(k, pkColumns, "left_semi")
    }
  }

  /** Merge one normalized change set (one row per key, with
    * `_peerdb_version`, `_peerdb_is_deleted`, `_absent_cols`).
    * `hardDelete=true` drops deleted keys; otherwise they persist as
    * soft-delete tombstones. */
  def merge(changes: DataFrame, hardDelete: Boolean = false): Unit = {
    // Inside foreachBatch the batch DataFrame belongs to a CLONED session
    // — do the reads (and the listing-cache refresh) on THAT session.
    val sess = changes.sparkSession
    val dataCols = changes.columns.toSeq
      .filterNot(Seq(Normalizer.AbsentCols).contains)
    val incoming = changes.withColumn(BucketCol, bucketOf(changes))

    if (!exists) {
      val resolved = toPhysical(stampSynced(finishRow(incoming, hardDelete)))
      resolved.write
        .partitionBy(BucketCol)
        .mode(SaveMode.Overwrite)
        .parquet(tablePath)
      rememberSchema(resolved)
      return
    }

    val affected = incoming.select(BucketCol).distinct()
      .collect().map(_.getInt(0)).sorted // driver-side: ≤ numBuckets ints
    // Partition-pruned scan: the isin filter on the partition column means
    // only the affected bucket dirs are listed/read.
    val existingStored = tableScan(sess)
      .filter(col(BucketCol).isin(affected.map(Integer.valueOf): _*))
    // Schema evolution: a TableSchemaDelta-widened batch carries columns
    // the stored parquet predates — null-fill them (alignFrame) so the
    // dst side of the merge resolves instead of throwing. Columns only
    // the destination has (dropped upstream) are retained, per the
    // reference's additive-only replication semantics.
    val existing = SchemaEvolution.alignFrame(
      existingStored, changes.drop(Normalizer.AbsentCols).schema)
    val retainedCols = existingStored.columns.toSeq
      .filterNot(changes.columns.contains).filterNot(_ == BucketCol)
      .filterNot(syncedAtCol.contains) // handled row-accurately below

    val valueCols = dataCols
      .filterNot(pkColumns.contains)
      .filterNot(Seq(RawTable.Version, RawTable.IsDeleted).contains)

    // Latest version wins; on equality the incoming row wins (idempotent
    // replay). TOAST-absent incoming columns take the destination value.
    val joined = incoming.as("src").join(
      existing.as("dst"), pkColumns, "full_outer")
    val srcWins = col(s"src.${RawTable.Version}").isNotNull &&
      (col(s"dst.${RawTable.Version}").isNull ||
        col(s"src.${RawTable.Version}") >= col(s"dst.${RawTable.Version}"))

    val merged = joined.select(
      pkColumns.map(col) ++ valueCols.map { c =>
        when(srcWins,
          when(array_contains(
              coalesce(col(s"src.${Normalizer.AbsentCols}"),
                array().cast("array<string>")), c),
            col(s"dst.$c")).otherwise(col(s"src.$c")))
          .otherwise(col(s"dst.$c")).as(c)
      } ++
      // Destination-only columns behave as TOAST-absent on every incoming
      // row: the stored value survives (null for brand-new keys).
      retainedCols.map(c => col(s"dst.$c").as(c)) ++
      // Synced-at: rows the merge writes (srcWins) take the fresh stamp;
      // surviving rows keep the one from the merge that last wrote them.
      syncedAtCol.toSeq.map { c =>
        val prev = if (existing.columns.contains(c)) col(s"dst.$c")
          else lit(null).cast("long")
        when(srcWins, lit(nowMicros())).otherwise(prev).as(c)
      } ++ Seq(
        when(srcWins, col(s"src.${RawTable.Version}"))
          .otherwise(col(s"dst.${RawTable.Version}")).as(RawTable.Version),
        when(srcWins, col(s"src.${RawTable.IsDeleted}"))
          .otherwise(col(s"dst.${RawTable.IsDeleted}"))
          .as(RawTable.IsDeleted)): _*)

    val resolved = toPhysical(finishRow(
      merged.withColumn(BucketCol,
        pmod(hash(pkColumns.map(col): _*), lit(numBuckets))),
      hardDelete))

    // Surviving buckets must be computed BEFORE the write: `resolved`
    // reads the stored table lazily, and the overwrite below replaces
    // those files — a post-write re-execution of the plan would resolve
    // the old file listing and die with FILE_NOT_EXIST.
    val survived: Set[Int] =
      if (hardDelete)
        resolved.select(BucketCol).distinct()
          .collect().map(_.getInt(0)).toSet
      else Set.empty

    // Dynamic overwrite: only the affected bucket partitions are replaced.
    // The per-write option outranks the session conf, so no shared
    // session state is touched.
    resolved.write
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(BucketCol)
      .mode(SaveMode.Overwrite)
      .parquet(tablePath)

    rememberSchema(resolved)

    // Dynamic overwrite only replaces partitions PRESENT in the output: a
    // bucket whose every key was hard-deleted writes no rows and would keep
    // its stale file — clear those partition dirs explicitly.
    if (hardDelete) {
      val f = fs
      affected.filterNot(survived).foreach { b =>
        f.delete(
          new org.apache.hadoop.fs.Path(s"$tablePath/$BucketCol=$b"), true)
      }
    }

    // The overwrite (and the hard-delete dir removal) replaces files a
    // prior scan of this path may have cached in the session's shared
    // file-listing cache; without an explicit refresh a later read can
    // resolve the replaced files and fail with FILE_NOT_EXIST.
    sess.catalog.refreshByPath(tablePath)
  }

  private def finishRow(df: DataFrame, hardDelete: Boolean): DataFrame = {
    val noAbsent = df.drop(Normalizer.AbsentCols)
    if (hardDelete) noAbsent.filter(!col(RawTable.IsDeleted)) else noAbsent
  }

  /** First write of the table: every row is being written now. */
  private def stampSynced(df: DataFrame): DataFrame =
    syncedAtCol.fold(df)(c => df.withColumn(c, lit(nowMicros())))
}
