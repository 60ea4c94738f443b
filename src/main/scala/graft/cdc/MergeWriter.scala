package graft.cdc

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.RawTable

/** Parquet-backed MERGE INTO with hash-bucketed partition pruning.
  *
  * The destination table lives as parquet partitioned by
  * `_g_bucket = pmod(hash(pk...), n)`. A table starts as one bucket and
  * keeps it while its stored bytes fit in one
  * `spark.sql.files.openCostInBytes` (Spark's estimate of what opening one
  * file costs, 4 MB by default); the first merge after it outgrows that
  * rewrites it in [[MergeWriter.MaxBuckets]] = 64 buckets, the fixed count
  * earlier writers used. Nothing records `n`: it is the smallest power of
  * two above the highest `_g_bucket=` directory present (1 for a new
  * table), so tables written with a fixed 64 buckets keep 64. After hard
  * deletes empty the upper buckets the count read back can fall; any such
  * count is consistent, because `pmod` by a power of two keeps the hash's
  * low bits: a key stored in bucket b hashes to b at every power of two
  * above b.
  *
  * Merging a (deduped) change set:
  *
  *   1. derive the current count from the listing, and grow it to 64 if
  *      the stored table exceeds one open cost;
  *   2. at a steady count above 1, compute the affected bucket set from
  *      the incoming batch (driver-side small list) and read only those
  *      buckets (partition pruning — the scan never touches clean
  *      buckets); with one bucket, or when the count grows, read every
  *      bucket;
  *   3. latest-version-wins anti/union combine, with TOAST-absent columns
  *      resolved by coalescing to the destination value
  *      (the `coalesce`-by-presence strategy replacing the reference's
  *      per-combination UPDATE branches, snowflake merge_stmt_generator
  *      .go:29-225);
  *   4. at a steady count, overwrite the bucket partitions written
  *      (dynamic partition overwrite) and, under hard delete, remove read
  *      buckets that received no rows; when the count grows, stage the
  *      whole new layout beside the table and publish it (below).
  *
  * A batch touching k distinct keys of a table in N buckets rewrites at
  * most min(k, N) buckets. A one-bucket table is at most one open cost
  * and is rewritten whole; at 64 buckets the work is proportional to the
  * change volume, not the table size. Each bucket costs a fixed listing,
  * read, write and commit (~15-20 ms locally, NOTES.md), which is why a
  * small table is not spread over 64 of them.
  *
  * Re-applying the same batch is idempotent: version comparison keeps the
  * newest row, ties break toward the incoming row which is byte-identical
  * on replay (at-least-once safety, core.go:204-206). A growing merge
  * moves rows between buckets, so it cannot replace buckets in place: it
  * writes the new layout under `_g_grow/` (hidden from scans by its `_`
  * prefix), and the staged `_SUCCESS` is its commit. Publishing removes
  * the old bucket directories, moves the staged ones in, and drops the
  * staging directory; every later listing first finishes a committed
  * publish a crash interrupted, or discards an uncommitted stage. Other
  * processes reading the table during a publish can still see it
  * partly moved (ROADMAP direction 3).
  *
  * Why not a real lakehouse MERGE: zero-dependency constraint (no Delta on
  * the classpath); this reproduces the same pruning + rewrite shape with
  * plain parquet.
  */
final class MergeWriter(
    spark: SparkSession,
    tablePath: String,
    pkColumns: Seq[String],
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

  private def bucketOf(n: Int) = pmod(hash(pkColumns.map(col): _*), lit(n))

  // All table metadata I/O goes through the Hadoop FileSystem API: the
  // destination at scale is HDFS/object storage, not the driver's disk.
  private def fs: org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Bucket id → directory of every `_g_bucket=` directory under `d`. */
  private def bucketsUnder(d: org.apache.hadoop.fs.Path)
      : Map[Int, org.apache.hadoop.fs.Path] = {
    val f = fs
    if (!f.exists(d)) Map.empty
    else f.listStatus(d).toSeq
      .filter(s => s.isDirectory &&
        s.getPath.getName.startsWith(s"$BucketCol="))
      .map(s => s.getPath.getName.stripPrefix(s"$BucketCol=").toInt ->
        s.getPath)
      .toMap
  }

  /** Bucket id → directory of every stored bucket, once any growth a
    * crash interrupted is finished or discarded. */
  private def bucketDirs: Map[Int, org.apache.hadoop.fs.Path] = {
    publishGrowth()
    bucketsUnder(new org.apache.hadoop.fs.Path(tablePath))
  }

  /** Where a growing merge stages the new layout. */
  private def growDir = new org.apache.hadoop.fs.Path(tablePath, "_g_grow")

  /** Publishes a staged layout, or drops one that never committed. Each
    * step is safe to repeat after a crash: the old bucket directories are
    * removed once (a marker in the stage records it), then each staged
    * bucket directory is renamed into the table, then the stage goes. */
  private def publishGrowth(): Unit = {
    val f = fs
    val g = growDir
    if (f.exists(g)) {
      if (f.exists(new org.apache.hadoop.fs.Path(g, "_SUCCESS"))) {
        val oldRemoved = new org.apache.hadoop.fs.Path(g, "_old_removed")
        if (!f.exists(oldRemoved)) {
          bucketsUnder(new org.apache.hadoop.fs.Path(tablePath)).values
            .foreach(f.delete(_, true))
          f.create(oldRemoved, true).close()
        }
        bucketsUnder(g).values.foreach { p =>
          if (!f.rename(p, new org.apache.hadoop.fs.Path(tablePath, p.getName)))
            throw new java.io.IOException(s"cannot move $p into $tablePath")
        }
      }
      f.delete(g, true)
    }
  }

  /** Bucket count of the stored layout: the smallest power of two above
    * the highest bucket id present. */
  private def countOf(ids: Iterable[Int]): Int =
    if (ids.isEmpty) 1 else Integer.highestOneBit(ids.max * 2 + 1)

  /** Bucket count the next merge writes: [[MergeWriter.MaxBuckets]] once
    * the stored table exceeds one `openCostInBytes`, else the current
    * count. The size is one summary call, not a listing per bucket. */
  private def targetCount(sess: SparkSession, current: Int): Int =
    if (current < MergeWriter.MaxBuckets &&
        fs.getContentSummary(new org.apache.hadoop.fs.Path(tablePath))
          .getLength > sess.sessionState.conf.filesOpenCostInBytes)
      MergeWriter.MaxBuckets
    else current

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
    val dirs = bucketDirs
    if (dirs.isEmpty) read()
    else {
      val k = keys.select(pkColumns.map(col): _*).distinct()
      val n = countOf(dirs.keys)
      val buckets = if (n == 1) None else Some(bucketsOf(k, n))
      scan(keys.sparkSession, buckets).drop(BucketCol)
        .join(k, pkColumns, "left_semi")
    }
  }

  /** Bucket ids at count `n` of the keys in `df` (driver-side: ≤ n ints). */
  private def bucketsOf(df: DataFrame, n: Int): Seq[Int] =
    df.select(bucketOf(n)).distinct().collect().map(_.getInt(0)).toSeq

  /** Stored rows of the given buckets — a partition-pruned scan: the isin
    * filter on the partition column means only those bucket dirs are
    * listed/read — or of every bucket. */
  private def scan(sess: SparkSession, buckets: Option[Seq[Int]])
      : DataFrame =
    buckets.fold(tableScan(sess))(b =>
      tableScan(sess).filter(col(BucketCol).isin(b.map(Integer.valueOf): _*)))

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
    val dirs = bucketDirs

    if (dirs.isEmpty) {
      val resolved = toPhysical(stampSynced(finishRow(
        changes.withColumn(BucketCol, bucketOf(1)), hardDelete)))
      resolved.write
        .partitionBy(BucketCol)
        .mode(SaveMode.Overwrite)
        .parquet(tablePath)
      rememberSchema(resolved)
      return
    }

    val current = countOf(dirs.keys)
    val n = targetCount(sess, current)
    // With one bucket there is nothing to prune, and a growing count
    // moves rows between buckets: both read (and rewrite) every bucket.
    // Otherwise only the buckets of the incoming keys are read.
    val pruned =
      if (n > 1 && n == current) Some(bucketsOf(changes, n)) else None
    val affected = pruned.getOrElse(dirs.keys.toSeq)
    val existingStored = scan(sess, pruned)
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
    val joined = changes.as("src").join(
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
      merged.withColumn(BucketCol, bucketOf(n)), hardDelete))

    if (n != current) {
      // Growth: the staged layout holds every surviving row, so publishing
      // it replaces the old layout whole (see publishGrowth).
      resolved.write
        .partitionBy(BucketCol)
        .mode(SaveMode.Overwrite)
        .parquet(growDir.toString)
      rememberSchema(resolved)
      publishGrowth()
    } else {
      // Surviving buckets must be computed BEFORE the write: `resolved`
      // reads the stored table lazily, and the overwrite below replaces
      // those files — a post-write re-execution of the plan would resolve
      // the old file listing and die with FILE_NOT_EXIST.
      val survived: Set[Int] =
        if (hardDelete)
          resolved.select(BucketCol).distinct()
            .collect().map(_.getInt(0)).toSet
        else Set.empty

      // Dynamic overwrite: only the affected bucket partitions are
      // replaced. The per-write option outranks the session conf, so no
      // shared session state is touched.
      resolved.write
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(BucketCol)
        .mode(SaveMode.Overwrite)
        .parquet(tablePath)

      rememberSchema(resolved)

      // Dynamic overwrite only replaces partitions PRESENT in the output:
      // a bucket whose every key was hard-deleted writes no rows and would
      // keep its stale file — clear those partition dirs explicitly.
      if (hardDelete) {
        val f = fs
        affected.filterNot(survived).foreach { b =>
          f.delete(
            new org.apache.hadoop.fs.Path(s"$tablePath/$BucketCol=$b"), true)
        }
      }
    }

    // The overwrite, the stale-bucket dir removal and a published growth
    // replace files a prior scan of this path may have cached in the
    // session's shared file-listing cache; without an explicit refresh a
    // later read can resolve the replaced files and fail with
    // FILE_NOT_EXIST.
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

object MergeWriter {
  /** Bucket count of a table that has outgrown one openCostInBytes,
    * however large it grows. */
  val MaxBuckets = 64
}
