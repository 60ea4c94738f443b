package graft.cdc

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  FileStatusWithMetadata, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.model.RawTable
import graft.util.FsText

/** Parquet-backed MERGE INTO with hash-bucketed partition pruning, published
  * by one atomic manifest write per merge.
  *
  * The destination table lives as parquet under `_g_bucket=b` directories,
  * `b = pmod(hash(pk...), n)`. Its commit point is one small manifest,
  * `_graft_table.json` in the table directory, replaced atomically
  * ([[graft.util.FsText.write]]). It holds the physical schema, the bucket
  * count `n`, and each bucket's live files (paths relative to the table
  * directory, so the directory can be moved whole) with their byte sizes.
  * Readers scan exactly those files, built from the recorded sizes, so a
  * read lists no directory and no listing cache can go stale.
  *
  * A table starts as one bucket and keeps it while its recorded bytes fit
  * in one `spark.sql.files.openCostInBytes` (Spark's estimate of what
  * opening one file costs, 4 MB by default); the first merge after it
  * outgrows that rewrites it in [[MergeWriter.MaxBuckets]] = 64 buckets.
  * A key stored in bucket b hashes to b at every power of two above b, so
  * a count read back from an old table's listing is consistent too.
  *
  * Every merge of a (deduped) change set takes the same four steps:
  *
  *   1. write: at a steady count above 1, read only the buckets of the
  *      incoming keys (the rest are never scanned); with one bucket, or
  *      when the count grows, read every bucket. Combine latest-version-
  *      wins, TOAST-absent columns coalescing to the destination value
  *      (the `coalesce`-by-presence strategy replacing the reference's
  *      per-combination UPDATE branches, snowflake merge_stmt_generator
  *      .go:29-225), and append the result: new, uniquely named files
  *      beside the old ones;
  *   2. find the new files: list the written bucket directories and take
  *      away the files the manifest already names;
  *   3. commit: write a manifest that keeps the untouched buckets' files
  *      and names the new ones in place of the read buckets' files;
  *   4. clean up: delete the superseded files, and bucket directories
  *      left with none.
  *
  * What a crash leaves: before step 3, the old manifest stands and the new
  * files are orphans; after it, the new manifest stands and superseded
  * files may remain. Either way readers see one whole version, and the
  * writer deletes every file the manifest does not name before it next
  * writes (on its first merge, and after a merge that failed). Re-applying
  * the same batch is idempotent: version comparison keeps the newest row,
  * ties break toward the incoming row, byte-identical on replay
  * (at-least-once safety, core.go:204-206). A table's first merge has no
  * manifest to protect: its files are committed by the manifest it ends
  * with, and a crash before that leaves them to be read as below.
  *
  * Between merges the directory holds exactly its live files, so plain
  * `spark.read.parquet(dir)` readers keep working; one that lists during
  * a merge can see new files beside the ones they supersede, or miss a
  * file step 4 deletes. A manifest read whose scan overlaps step 4 can
  * fail on a deleted file; it never returns wrong rows.
  *
  * A table with bucket directories but no manifest (written before
  * manifests existed) is read from one listing, its schema from the old
  * `_graft_schema.json` when present, else from a footer union, until its
  * first merge writes a manifest.
  *
  * A batch touching k distinct keys of a table in N buckets rewrites at
  * most min(k, N) buckets. A one-bucket table is at most one open cost and
  * is rewritten whole; at 64 buckets the work is proportional to the change
  * volume, not the table size. Each bucket costs a fixed read, write and
  * delete (~15-20 ms locally, NOTES.md), which is why a small table is not
  * spread over 64 of them.
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
  import MergeWriter._

  private val BucketCol = "_g_bucket"

  /** Called as a merge passes each [[MergeWriter.Step]]; specs use it to
    * crash or pause a merge there. */
  @volatile private[graft] var stepHook: Step => Unit = _ => ()

  /** Whether the bucket directories may hold files no manifest names: true
    * until this writer's first merge has swept them, and again after a
    * merge that failed. */
  private var dirty = true

  /** Internal → physical column names, applied just before a write. */
  private def toPhysical(df: DataFrame): DataFrame =
    if (softDeleteCol == RawTable.IsDeleted) df
    else df.withColumnRenamed(RawTable.IsDeleted, softDeleteCol)

  /** Physical → internal, applied right after a scan. */
  private def toLogical(df: DataFrame): DataFrame =
    if (softDeleteCol == RawTable.IsDeleted) df
    else df.withColumnRenamed(softDeleteCol, RawTable.IsDeleted)

  private def logicalSchema(s: StructType): StructType =
    if (softDeleteCol == RawTable.IsDeleted) s
    else StructType(s.fields.map(f =>
      if (f.name == softDeleteCol) f.copy(name = RawTable.IsDeleted)
      else f))

  private def bucketOf(n: Int) = pmod(hash(pkColumns.map(col): _*), lit(n))

  // All table metadata I/O goes through the Hadoop FileSystem API: the
  // destination at scale is HDFS/object storage, not the driver's disk.
  private def conf = spark.sparkContext.hadoopConfiguration
  private def fs = new Path(tablePath).getFileSystem(conf)
  private def root = fs.makeQualified(new Path(tablePath))
  private def manifest = new Path(tablePath, "_graft_table.json").toString
  private def bucketDir(b: Int) = new Path(root, s"$BucketCol=$b")

  /** Ids of the bucket directories present. */
  private def bucketIds: Seq[Int] =
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq.map(_.getPath.getName)
      .filter(_.startsWith(s"$BucketCol="))
      .map(_.stripPrefix(s"$BucketCol=").toInt)

  /** Data files under bucket `b`'s directory, relative path → bytes. */
  private def listBucket(b: Int): Map[String, Long] =
    (try fs.listStatus(bucketDir(b)).toSeq
    catch { case _: java.io.FileNotFoundException => Nil })
      .filter(s => s.isFile && !hidden(s.getPath.getName))
      .map(s => s"$BucketCol=$b/${s.getPath.getName}" -> s.getLen).toMap

  /** The last committed version: the manifest, or for a table written
    * before manifests, one listing of its bucket directories. None for a
    * table never written. */
  private[cdc] def snapshot: Option[Snapshot] =
    FsText.read(manifest, conf).map(Snapshot.fromJson).orElse {
      val files = bucketIds.map(b => b -> listBucket(b)).toMap
      val schemaFile = FsText.read(s"$tablePath/_graft_schema.json", conf)
        .map(DataType.fromJson(_).asInstanceOf[StructType])
      if (files.isEmpty && schemaFile.isEmpty) None
      else Some(Snapshot(
        schemaFile.getOrElse(spark.read.option("mergeSchema", "true")
          .parquet(tablePath).drop(BucketCol).schema),
        if (files.isEmpty) 1
        else Integer.highestOneBit(files.keys.max * 2 + 1),
        files.filter(_._2.nonEmpty)))
    }

  private def committed: Snapshot = snapshot.getOrElse(
    throw new IllegalStateException(s"$tablePath: table never written"))

  def exists: Boolean = snapshot.isDefined

  /** The widest schema of the stored table (payload + engine meta columns,
    * INTERNAL names), if it has ever been written — lets a restarted
    * mirror recover post-ADD-COLUMN payload schemas its static config
    * predates. */
  def currentSchema: Option[StructType] =
    snapshot.map(s => logicalSchema(s.schema))

  /** Current table state (all buckets); typed-empty after a full hard
    * delete. */
  def read(): DataFrame = scan(spark, committed, None)

  /** Affected-rows read: the stored rows whose primary key appears in
    * `keys`, scanning only the buckets containing a requested key, so the
    * cost tracks the key set, not the table size. The incremental-view
    * maintenance path ([[graft.mirror.IncrementalAgg]]) reads before/after
    * images through this. */
  def readForKeys(keys: DataFrame): DataFrame = {
    val s = committed
    val k = keys.select(pkColumns.map(col): _*).distinct()
    val buckets = if (s.buckets == 1) None else Some(bucketsOf(k, s.buckets))
    scan(keys.sparkSession, s, buckets).join(k, pkColumns, "left_semi")
  }

  /** Bucket ids at count `n` of the keys in `df` (driver-side: ≤ n ints). */
  private def bucketsOf(df: DataFrame, n: Int): Seq[Int] =
    df.select(bucketOf(n)).distinct().collect().map(_.getInt(0)).toSeq

  /** The version's files of the given buckets, or of every bucket, as one
    * parquet scan in the version's schema. The scan is built from the
    * recorded files and sizes, as Spark's `MetadataLogFileIndex` does for a
    * file sink, so it lists nothing. */
  private def scan(sess: SparkSession, s: Snapshot,
      buckets: Option[Seq[Int]]): DataFrame = {
    val r = root
    val files = buckets.fold(s.files.values.toSeq)(_.flatMap(s.files.get))
      .flatten.map { case (rel, len) =>
        new FileStatus(len, false, 0, 0, 0, new Path(r, rel))
      }
    toLogical(sess.baseRelationToDataFrame(HadoopFsRelation(
      ManifestIndex(r, files), new StructType(), s.schema, None,
      new ParquetFileFormat, Map.empty)(sess)))
  }

  /** Deletes what a crashed or failed merge left under the bucket
    * directories: every file `s` does not name, and directories left
    * without one. */
  private def sweep(s: Snapshot): Unit = bucketIds.foreach { b =>
    val live = s.files.getOrElse(b, Map.empty)
    if (live.isEmpty) fs.delete(bucketDir(b), true)
    else (listBucket(b).keySet -- live.keySet)
      .foreach(f => fs.delete(new Path(root, f), false))
  }

  /** Merge one normalized change set (one row per key, with
    * `_peerdb_version`, `_peerdb_is_deleted`, `_absent_cols`).
    * `hardDelete=true` drops deleted keys; otherwise they persist as
    * soft-delete tombstones. */
  def merge(changes: DataFrame, hardDelete: Boolean = false): Unit = {
    stepHook(Begin)
    // Inside foreachBatch the batch DataFrame belongs to a CLONED session
    // — do the reads on THAT session.
    val sess = changes.sparkSession
    val before = snapshot
    if (dirty) before.foreach(sweep)
    dirty = true
    val current = before.fold(1)(_.buckets)
    val n =
      if (current < MaxBuckets && before.exists(_.bytes >
          sess.sessionState.conf.filesOpenCostInBytes)) MaxBuckets
      else current
    // With one bucket there is nothing to prune, and a growing count
    // moves rows between buckets: both read (and rewrite) every bucket.
    // Otherwise only the buckets of the incoming keys are read.
    val pruned =
      if (n > 1 && n == current) Some(bucketsOf(changes, n)) else None
    val resolved = before.fold(stampSynced(changes))(s =>
      combine(changes, scan(sess, s, pruned)))
    val out = toPhysical(finishRow(
      resolved.withColumn(BucketCol, bucketOf(n)), hardDelete))
    out.write.mode(SaveMode.Append).partitionBy(BucketCol).parquet(tablePath)
    stepHook(Written)

    val prior = before.fold(Map.empty[Int, Map[String, Long]])(_.files)
    val replaced = pruned.getOrElse(prior.keys.toSeq)
    val written = pruned.getOrElse(0 until n).map(b =>
      b -> (listBucket(b) -- prior.getOrElse(b, Map.empty).keySet))
      .filter(_._2.nonEmpty)
    val live = prior -- replaced ++ written
    FsText.write(manifest, Snapshot(
      StructType(out.schema.filterNot(_.name == BucketCol)), n, live).toJson,
      conf)
    stepHook(Committed)

    prior.filter(b => replaced.contains(b._1)).foreach { case (b, old) =>
      if (live.contains(b))
        old.keys.foreach(f => fs.delete(new Path(root, f), false))
      else fs.delete(bucketDir(b), true)
    }
    stepHook(Cleaned)
    dirty = false
  }

  /** Latest version wins; on equality the incoming row wins (idempotent
    * replay). TOAST-absent incoming columns take the destination value. */
  private def combine(changes: DataFrame, existingStored: DataFrame)
      : DataFrame = {
    // Schema evolution: a TableSchemaDelta-widened batch carries columns
    // the stored parquet predates — null-fill them (alignFrame) so the
    // dst side of the merge resolves instead of throwing. Columns only
    // the destination has (dropped upstream) are retained, per the
    // reference's additive-only replication semantics.
    val existing = SchemaEvolution.alignFrame(
      existingStored, changes.drop(Normalizer.AbsentCols).schema)
    val retainedCols = existingStored.columns.toSeq
      .filterNot(changes.columns.contains)
      .filterNot(syncedAtCol.contains) // handled row-accurately below
    val valueCols = changes.columns.toSeq
      .filterNot(Seq(Normalizer.AbsentCols).contains)
      .filterNot(pkColumns.contains)
      .filterNot(Seq(RawTable.Version, RawTable.IsDeleted).contains)

    val joined = changes.as("src").join(
      existing.as("dst"), pkColumns, "full_outer")
    val srcWins = col(s"src.${RawTable.Version}").isNotNull &&
      (col(s"dst.${RawTable.Version}").isNull ||
        col(s"src.${RawTable.Version}") >= col(s"dst.${RawTable.Version}"))

    joined.select(
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

  /** The points of a merge its step hook is called at. */
  sealed trait Step
  /** Entered; nothing written yet. */
  case object Begin extends Step
  /** New files written beside the old ones; not committed. */
  case object Written extends Step
  /** The new manifest is in place; superseded files not yet deleted. */
  case object Committed extends Step
  /** Superseded files deleted. */
  case object Cleaned extends Step

  /** Names Spark's own listing skips (`_SUCCESS`, `.crc`, temp files). */
  private def hidden(name: String) =
    name.startsWith("_") || name.startsWith(".")

  /** One committed version of a table: its physical schema (without the
    * bucket column), its bucket count, and each bucket's live files as
    * path relative to the table directory → bytes. */
  private[cdc] final case class Snapshot(schema: StructType, buckets: Int,
      files: Map[Int, Map[String, Long]]) {
    def bytes: Long = files.values.flatMap(_.values).sum

    def toJson: String = Snapshot.json.writeValueAsString(Map(
      "schema" -> Snapshot.json.readTree(schema.json),
      "buckets" -> buckets, "files" -> files))
  }

  private[cdc] object Snapshot {
    private val json = new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

    def fromJson(text: String): Snapshot = {
      val o = json.readTree(text)
      def entries(n: com.fasterxml.jackson.databind.JsonNode) =
        n.properties().asScala.map(e => e.getKey -> e.getValue)
      Snapshot(
        DataType.fromJson(o.get("schema").toString).asInstanceOf[StructType],
        o.get("buckets").asInt,
        entries(o.get("files")).map { case (b, fs) =>
          b.toInt -> entries(fs).map { case (p, len) => p -> len.asLong }.toMap
        }.toMap)
    }
  }

  /** A fixed set of files as a file index: no partition columns, no
    * listing, nothing to refresh. */
  private final case class ManifestIndex(root: Path, files: Seq[FileStatus])
      extends FileIndex {
    def rootPaths: Seq[Path] = Seq(root)
    def listFiles(partitionFilters: Seq[Expression],
        dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      Seq(PartitionDirectory(InternalRow.empty,
        files.map(FileStatusWithMetadata(_))))
    def inputFiles: Array[String] = files.map(_.getPath.toString).toArray
    def refresh(): Unit = ()
    def sizeInBytes: Long = files.map(_.getLen).sum
    def partitionSchema: StructType = new StructType()
  }
}
