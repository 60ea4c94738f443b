package graft.cdc

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.Comparator

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.model.ChangeRecord

/** A change-log WAL on disk: the CDC source simulator's storage. One record
  * per line, unit-separator (0x1F) delimited fields:
  *
  *   checkpointId ␟ txId ␟ commitTimeMicros ␟ recordType ␟ sourceTable ␟
  *   destinationTable ␟ data ␟ matchData ␟ unchangedToastColumns(csv)
  *   [␟ checkpointText]
  *
  * The optional trailing field carries the TEXT checkpoint of sources
  * whose resume position is not an integer — MySQL GTID sets, Mongo
  * resume tokens — mirroring CdcCheckpoint's (ID int64, Text string) pair
  * (flow/model/cdc_stream.go:33-36); readers of older 9-field WALs see
  * null.
  *
  * Plays the role of the replication slot / binlog the reference pulls from
  * (flow/connectors/postgres/cdc.go:524-967): checkpointIds are strictly
  * increasing, records of one transaction are contiguous and share a txId.
  */
object ChangeLogWal {
  val Sep = '\u001F'

  /** WRITER INVARIANT: one `append` call must contain only WHOLE
    * transactions (never the leading half of one) — the tx-boundary cut
    * treats end-of-log as a commit boundary, so a tx written across two
    * appends could be torn if a trigger fires between them. Both writers
    * (the simulator and [[PgOutputFrames.ingest]], which holds back
    * uncommitted tails) honor this.
    *
    * A segment is published whole: written under a hidden temporary name
    * that does not end in `.wal`, then renamed atomically, so a reader
    * polling the live WAL never sees a torn last line. The next segment
    * is numbered after the highest `.wal` segment, so neither a temporary
    * file left by a crashed writer nor another file in the directory
    * (the slot intent marker) shifts the numbering or reuses a name. */
  def append(dir: String, records: Seq[ChangeRecord]): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val n = segmentFiles(d)
      .map(_.getFileName.toString.stripSuffix(".wal").toLong + 1)
      .maxOption.getOrElse(0L)
    val lines = records.map { r =>
      require(r.data == null || !r.data.contains('\n'),
        "WAL payloads must be single-line")
      require(r.checkpointText == null ||
        !r.checkpointText.exists(c => c == '\n' || c == Sep),
        "checkpointText must be single-line and separator-free")
      Seq(r.checkpointId, r.transactionId, r.commitTimeMicros, r.recordType,
        r.sourceTable, r.destinationTable,
        Option(r.data).getOrElse(""), Option(r.matchData).getOrElse(""),
        r.unchangedToastColumns.mkString(","),
        Option(r.checkpointText).getOrElse("")).mkString(Sep.toString)
    }
    val tmp = Files.write(d.resolve(f".$n%06d.wal.tmp"),
      lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, d.resolve(f"$n%06d.wal"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Transaction-atomic batch cut with BOUNDED reading — the driver-side
    * hot path of `latestOffset`. Scans records with cp in (after, cap]
    * through a streamed line reader, admits up to `max` records, extends
    * the cut to the enclosing tx boundary, and STOPS READING there:
    * per-trigger driver work is O(batch) parsed lines (+ one lookahead
    * record), never O(live segment), and no segment file is materialized
    * whole. Returns (cutCp, checkpointText at the cut, linesParsed);
    * cut == `after` ⇔ no complete transaction is newly available. */
  def boundedCut(dir: String, after: Long, cap: Long, max: Int)
      : (Long, Option[String], Long) = {
    val files = segmentFiles(Paths.get(dir))
    var parsed = 0L
    var admitted = 0
    // pending = last in-range record; its tx closes when the NEXT record
    // carries a different txId, or the in-range stream ends.
    var pCp = -1L; var pTx = 0L; var pText: String = null
    var pending = false
    var cut = -1L; var cutText: String = null
    var stop = false        // stop reading (cap passed or batch full)
    var batchFull = false   // stopped at a boundary with admitted >= max
    // Second-level skip: a live-by-successor file whose LAST record is
    // already consumed (the common idle-trigger shape — one live segment,
    // fully drained) drops on a single tail read, so an idle trigger is
    // O(segments) metadata reads, not O(segment) line parses.
    val live = liveIndices(files, after).map(files)
      .filter(p => lastCp(p) > after)
    var fi = 0
    while (fi < live.length && !stop) {
      val in = Files.newBufferedReader(live(fi), StandardCharsets.UTF_8)
      try {
        var line = in.readLine()
        while (line != null && !stop) {
          if (line.nonEmpty) {
            parsed += 1
            val f = line.split(Sep.toString, -1)
            val cp = f(0).toLong
            if (cp > cap) stop = true // cps grow: nothing more in range
            else if (cp > after) {
              val tx = f(1).toLong
              if (pending && tx != pTx) {
                cut = pCp; cutText = pText
                if (admitted >= max) { stop = true; batchFull = true }
              }
              if (!batchFull) {
                pCp = cp; pTx = tx
                pText = if (f.length > 9 && f(9).nonEmpty) f(9) else null
                pending = true
                admitted += 1
              }
            }
          }
          if (!stop) line = in.readLine()
        }
      } finally in.close()
      fi += 1
    }
    // End of the in-range stream closes the pending record's transaction
    // (unless we already stopped on a full batch — then the pending
    // record belongs to the NEXT batch).
    if (pending && !batchFull) { cut = pCp; cutText = pText }
    if (cut >= 0) (cut, Option(cutText), parsed)
    else (after, None, parsed)
  }

  /** Indices of segment files that may hold records in (afterCp,
    * untilCp] — THE segment-skip rule, single-sourced (checkpointIds
    * grow across the WAL): a file whose SUCCESSOR starts at cp ≤ afterCp
    * holds nothing new, and a file starting past untilCp is beyond the
    * range. One first-line read per file; over-inclusion at the
    * boundaries is fine — `parseSegment` filters at record granularity.
    * `untilCp` defaults to unbounded. */
  def liveIndices(files: Seq[Path], afterCp: Long,
      untilCp: Long = Long.MaxValue): Seq[Int] = {
    val firstCps = files.map(firstCp)
    files.indices
      .filter(i => (i + 1 >= files.length || firstCps(i + 1) > afterCp) &&
        firstCps(i) <= untilCp)
  }

  /** All records with checkpointId in (afterCp, untilCp], WAL order.
    * Segment-skipping on both ends (cps grow across segment files): files
    * entirely ≤ afterCp are skipped via one first-line read, parsing
    * stops at the first record past untilCp, and segments stream one at
    * a time — the executor-side read is O(batch) work and O(segment)
    * memory, not O(history) of either. */
  def readIter(dir: String, afterCp: Long, untilCp: Long)
      : Iterator[Array[String]] = {
    val files = segmentFiles(Paths.get(dir))
    liveIndices(files, afterCp, untilCp).iterator
      .map(files)
      .flatMap(p => parseSegment(p, afterCp, untilCp))
  }

  /** Parsed records of ONE segment file with checkpointId in
    * (afterCp, untilCp] — the executor-side unit of the streaming scan
    * (one input partition per segment; segments parse in parallel). */
  def parseSegment(p: Path, afterCp: Long, untilCp: Long)
      : Iterator[Array[String]] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.iterator
      .filter(_.nonEmpty)
      .map(_.split(Sep.toString, -1))
      .takeWhile(_(0).toLong <= untilCp)
      .filter(_(0).toLong > afterCp)

  def read(dir: String, afterCp: Long, untilCp: Long): Seq[Array[String]] =
    readIter(dir, afterCp, untilCp).toSeq

  /** Ordered segment files of a WAL dir. */
  def segmentFiles(d: Path): Seq[Path] =
    if (!Files.isDirectory(d)) Nil
    else Files.list(d)
      .sorted(Comparator.comparing[Path, String](
        (p: Path) => p.getFileName.toString))
      .iterator().asScala
      .filter(_.getFileName.toString.endsWith(".wal"))
      .toSeq

  /** Checkpoint id at the WAL head (latest record) — one tail read of the
    * last segment, the "current WAL insert position" of slot-lag
    * monitoring. */
  def headCp(dir: String): Long =
    segmentFiles(Paths.get(dir)).lastOption.map(lastCp).getOrElse(-1L)

  /** Checkpoint id of a segment's LAST record via a tail read (no full
    * scan): read a chunk from the end, widening until it contains one
    * complete line — payloads can be huge (multi-MB JSON), so a fixed
    * window could land mid-record. */
  def lastCp(p: Path): Long = {
    val size = Files.size(p)
    if (size == 0) return -1L
    var n = 64L * 1024
    while (true) {
      val off = math.max(0L, size - n)
      val ch = java.nio.channels.FileChannel.open(p)
      val buf =
        try {
          val b = java.nio.ByteBuffer.allocate((size - off).toInt)
          var pos = off
          while (b.hasRemaining) {
            val r = ch.read(b, pos)
            if (r < 0) throw new java.io.EOFException(p.toString)
            pos += r
          }
          b
        } finally ch.close()
      val s = new String(buf.array(), StandardCharsets.UTF_8)
      // Complete region: everything after the first newline (the chunk
      // may start mid-line) — or the whole chunk when it starts at 0.
      val complete = if (off == 0) s
        else if (s.indexOf('\n') >= 0) s.substring(s.indexOf('\n') + 1)
        else ""
      val lines = complete.split("\n").filter(_.nonEmpty)
      if (lines.nonEmpty)
        return lines.last.substring(0, lines.last.indexOf(Sep)).toLong
      if (off == 0) return -1L // file holds no complete non-empty line
      n *= 8
    }
    -1L // unreachable
  }

  /** First checkpointId in a segment file, reading ONLY the first line —
    * the segment-skip key: checkpointIds increase across the WAL, so a
    * segment whose successor STARTS at cp ≤ after holds nothing new. */
  def firstCp(p: Path): Long = {
    val in = Files.newBufferedReader(p, StandardCharsets.UTF_8)
    try {
      var line = in.readLine()
      while (line != null && line.isEmpty) line = in.readLine()
      if (line == null) -1L
      else line.substring(0, line.indexOf(Sep)).toLong
    } finally in.close()
  }
}

/** Batch view of a WAL slice — the catch-up path when a table joins an
  * existing mirror (table-addition signal) and the input to full-history
  * replays (resync). DISTRIBUTED: `spark.read.text` scans the segment
  * files across executors and the field split/casts are codegen'd column
  * ops, so replaying a 100 TB history parallelizes like any other scan —
  * no driver-side line materialization. Record order is irrelevant here:
  * every consumer (Normalizer) orders by (commit timestamp, uid=LSN)
  * itself. */
object ChangeLogBatch {
  def read(spark: org.apache.spark.sql.SparkSession, dir: String,
      afterCp: Long = -1L, untilCp: Long = Long.MaxValue)
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions._
    val schema = ChangeLogSourceProvider.schema
    def typedEmpty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return typedEmpty
    // A glob matching no files is an AnalysisException, not an empty scan —
    // an existing-but-empty WAL dir (slot created, nothing flowed yet) must
    // read as zero records like the driver-side reader did.
    val hasSegments = Files.list(d).iterator().asScala
      .exists(_.getFileName.toString.endsWith(".wal"))
    if (!hasSegments) return typedEmpty
    val f = split(col("value"), ChangeLogWal.Sep.toString, -1)
    // Under ANSI (default) a malformed checkpointId already throws at the
    // cast; the raise_error keeps corruption loud even with ANSI off
    // instead of nulling + silently dropping at the range filter.
    val cp = f.getItem(0).cast("long")
    spark.read.text(s"$dir/*.wal")
      .filter(length(col("value")) > 0)
      .select(
        when(cp.isNull, raise_error(concat(
          lit("malformed WAL line: "), col("value")))).otherwise(cp)
          .as("checkpointId"),
        f.getItem(1).cast("long").as("transactionId"),
        f.getItem(2).cast("long").as("commitTimeMicros"),
        f.getItem(3).cast("int").as("recordType"),
        f.getItem(4).as("sourceTable"),
        f.getItem(5).as("destinationTable"),
        when(f.getItem(6) === "", lit(null)).otherwise(f.getItem(6))
          .as("data"),
        when(f.getItem(7) === "", lit(null)).otherwise(f.getItem(7))
          .as("matchData"),
        when(f.getItem(8) === "", lit(null)).otherwise(f.getItem(8))
          .as("unchangedToastColumns"),
        // 9-field (pre-text-offset) WAL lines read as null here.
        when(f.getItem(9).isNull || f.getItem(9) === "", lit(null))
          .otherwise(f.getItem(9)).as("checkpointText"))
      .filter(col("checkpointId") > afterCp &&
        col("checkpointId") <= untilCp)
  }
}

/** Streaming CDC source (DataSource v2 `MicroBatchStream`) over a
  * [[ChangeLogWal]] directory.
  *
  * The part of the reference Spark genuinely lacks (SURVEY §4 "custom
  * Catalyst work actually required"): offset management with
  * TRANSACTION-ATOMIC batch cuts. `latestOffset` admits up to
  * `maxBatchSize` records per micro-batch but always extends the cut to the
  * enclosing commit boundary — a batch never splits a source transaction
  * (the `commitLock` behavior, cdc.go:701-753), so downstream equality
  * oracles can never observe a torn transaction.
  *
  * The scan plans one input partition per WAL segment — segments parse in
  * parallel across executors. WAL order is carried by the checkpointId
  * COLUMN, not by row position (every consumer — Normalizer's
  * latest-version window, the raw table — keys on it), so the reference's
  * single-slot serial pull (a Postgres protocol constraint) does not bind
  * the scan. Offsets are plain checkpointIds, restart-safe via the
  * standard checkpointLocation mechanism.
  *
  * Usage:
  * {{{
  *   spark.readStream.format("graft.cdc.ChangeLogSourceProvider")
  *     .option("path", walDir).option("maxBatchSize", "250000").load()
  * }}}
  */
class ChangeLogSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeLogSourceProvider.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new ChangeLogTable(properties.get("path"),
      Option(properties.get("maxBatchSize")).map(_.toInt).getOrElse(250000),
      Option(properties.get("startingCheckpoint")).map(_.toLong)
        .getOrElse(-1L))
}

object ChangeLogSourceProvider {
  /** Typed change-event schema (ChangeRecord flattened; SURVEY §1.1). */
  val schema: StructType = StructType(Seq(
    StructField("checkpointId", LongType, nullable = false),
    StructField("transactionId", LongType, nullable = false),
    StructField("commitTimeMicros", LongType, nullable = false),
    StructField("recordType", IntegerType, nullable = false),
    StructField("sourceTable", StringType, nullable = false),
    StructField("destinationTable", StringType, nullable = false),
    StructField("data", StringType, nullable = true),
    StructField("matchData", StringType, nullable = true),
    StructField("unchangedToastColumns", StringType, nullable = true),
    /** text checkpoint ride-along (GTID set / resume token) — null for
      * integer-offset sources and pre-text WAL segments. */
    StructField("checkpointText", StringType, nullable = true)))
}

private[cdc] class ChangeLogTable(path: String, maxBatchSize: Int,
    startingCheckpoint: Long) extends Table with SupportsRead {
  override def name(): String = s"graft_cdc($path)"
  override def schema(): StructType = ChangeLogSourceProvider.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ)

  /** One Table, two read modes: `readStream` gets the tx-atomic
    * micro-batch stream; `read` gets a distributed batch scan of the
    * full history above `startingCheckpoint` (resync/catch-up replay) —
    * same one-partition-per-segment parallelism, no driver
    * materialization. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ChangeLogSourceProvider.schema
        override def toMicroBatchStream(loc: String): MicroBatchStream =
          new ChangeLogMicroBatchStream(path, maxBatchSize,
            startingCheckpoint)
        override def toBatch: Batch = new Batch {
          override def planInputPartitions(): Array[InputPartition] = {
            val files = ChangeLogWal.segmentFiles(Paths.get(path))
            ChangeLogWal.liveIndices(files, startingCheckpoint)
              .map(i => ChangeLogInputPartition(files(i).toString,
                startingCheckpoint, Long.MaxValue): InputPartition)
              .toArray
          }
          override def createReaderFactory(): PartitionReaderFactory =
            new ChangeLogReaderFactory
        }
      }
    }
}

/** Stream offset: the integer checkpoint plus an optional opaque TEXT
  * checkpoint riding along — CdcCheckpoint's (ID, Text) pair
  * (flow/model/cdc_stream.go:33-36). Sources whose native resume position
  * is textual (MySQL GTID sets, Mongo resume tokens) carry it here and
  * get it back verbatim after a restart; ordering/admission always uses
  * the engine-assigned monotonic `cp` (the reference does the same: Text
  * is passed through, comparisons use the int64). JSON form stays a plain
  * long when no text is present — old checkpoint files keep working. */
private[graft] case class CpOffset(cp: Long, text: Option[String] = None)
    extends Offset {
  override def json(): String = text match {
    case None => cp.toString
    case Some(t) =>
      val m = new com.fasterxml.jackson.databind.ObjectMapper()
      val node = m.createObjectNode()
      node.put("cp", cp); node.put("text", t)
      m.writeValueAsString(node)
  }
}

private[graft] object CpOffset {
  def fromJson(s: String): CpOffset = {
    val t = s.trim
    if (!t.startsWith("{")) CpOffset(t.toLong)
    else {
      val n = new com.fasterxml.jackson.databind.ObjectMapper().readTree(t)
      CpOffset(n.get("cp").asLong(),
        Option(n.get("text")).filterNot(_.isNull).map(_.asText()))
    }
  }
}

private[cdc] class ChangeLogMicroBatchStream(path: String, maxBatchSize: Int,
    startingCheckpoint: Long = -1L)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  // Trigger.AvailableNow: pin the end of the WAL at query start; batches
  // drain up to the pin (in maxBatchSize steps), later appends wait for
  // the next run — same contract as the built-in file source.
  @volatile private var availableNowCap: Long = Long.MaxValue

  override def prepareForTriggerAvailableNow(): Unit = {
    availableNowCap = ChangeLogWal.headCp(path) // last segment tail only
  }

  /** Snapshot→CDC handoff (snapshot_flow.go slot-export consistency): a
    * mirror bootstrapped from a snapshot taken at checkpoint C starts the
    * stream at C, skipping changes the snapshot already contains. Only
    * consulted on the FIRST run — afterwards the checkpointed offset
    * governs. */
  override def initialOffset(): Offset = CpOffset(startingCheckpoint)

  override def deserializeOffset(json: String): Offset =
    CpOffset.fromJson(json)

  override def getDefaultReadLimit: ReadLimit =
    ReadLimit.maxRows(maxBatchSize)

  /** Admit up to maxBatchSize records, then extend to the enclosing
    * transaction boundary — never cut mid-transaction.
    *
    * Scale shape: this runs on the DRIVER once per micro-batch, so it must
    * NOT be O(full WAL history). Segments are consumed in order and
    * checkpointIds only grow, so (a) every segment whose SUCCESSOR starts
    * at cp ≤ `after` is skipped on the first line alone, and (b) the
    * STREAMED line reader ([[ChangeLogWal.boundedCut]]) stops at the batch
    * cut instead of draining (or materializing) segments — per-batch
    * driver work is O(segments + batch) lines and O(1) memory, the same
    * contract as the reference's slot read (cdc.go:701-753). The text
    * checkpoint of the cut record (GTID set / resume token) rides the
    * offset into the streaming checkpoint. */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val prev = start.asInstanceOf[CpOffset]
    val (cut, text, _) = ChangeLogWal.boundedCut(
      path, prev.cp, availableNowCap, maxBatchSize)
    // Text-less cut records (9-field segments, commit-only tokens) must
    // not REGRESS the stored resume token — carry the previous forward.
    if (cut == prev.cp) prev else CpOffset(cut, text.orElse(prev.text))
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is used (SupportsAdmissionControl)")

  /** One input partition PER WAL SEGMENT overlapping the batch range —
    * segments parse in parallel across executors (the reference's
    * single-slot pull is a source-protocol constraint Postgres imposes;
    * a persisted log has no such limit). Order is NOT preserved across
    * partitions and doesn't need to be: every consumer keys on
    * checkpointId/version (Normalizer's latest-version window, the raw
    * table's checkpoint column) — WAL order is data here, not row order.
    * Tx-atomicity lives in the OFFSET choice (latestOffset), untouched. */
  override def planInputPartitions(start: Offset, end: Offset)
      : Array[InputPartition] = {
    val after = start.asInstanceOf[CpOffset].cp
    val until = end.asInstanceOf[CpOffset].cp
    val files = ChangeLogWal.segmentFiles(Paths.get(path))
    ChangeLogWal.liveIndices(files, after, until)
      .map(i => ChangeLogInputPartition(
        files(i).toString, after, until): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new ChangeLogReaderFactory

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()
}

/** One WAL segment file restricted to the batch's (afterCp, untilCp]. */
private[cdc] case class ChangeLogInputPartition(
    segmentFile: String, afterCp: Long, untilCp: Long) extends InputPartition

private[cdc] class ChangeLogReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new ChangeLogPartitionReader(p.asInstanceOf[ChangeLogInputPartition])
}

private[cdc] class ChangeLogPartitionReader(p: ChangeLogInputPartition)
    extends PartitionReader[InternalRow] {
  private val it = ChangeLogWal.parseSegment(
    Paths.get(p.segmentFile), p.afterCp, p.untilCp)
  private var current: Array[String] = _

  override def next(): Boolean = {
    if (it.hasNext) { current = it.next(); true } else false
  }

  override def get(): InternalRow = {
    def s(v: String): UTF8String =
      if (v == null || v.isEmpty) null else UTF8String.fromString(v)
    new GenericInternalRow(Array[Any](
      current(0).toLong, current(1).toLong, current(2).toLong,
      current(3).toInt,
      UTF8String.fromString(current(4)), UTF8String.fromString(current(5)),
      s(current(6)), s(current(7)), s(current(8)),
      if (current.length > 9) s(current(9)) else null))
  }

  override def close(): Unit = ()
}
