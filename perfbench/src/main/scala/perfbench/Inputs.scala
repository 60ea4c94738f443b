package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, pmod, sum,
  xxhash64}
import org.apache.spark.sql.types._

import graft.cdc.{ChangeLogWal, PgOutputFrames}
import graft.cdc.PgOutput._
import graft.model.ChangeRecord

/** Seeded workload inputs and the destination each must fold to.
  *
  * Every input is a pure function of the seed: the same seed gives
  * byte-identical capture files and WAL segments, and the generator keeps
  * the expected destination (key → row) as it goes, so correctness is
  * checked against an independent fold rather than against the mirror's
  * own recomputation. */
object Inputs {
  val SourceTable = "public.t"
  val Schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("v", LongType)))

  final case class Row(name: String, v: Long)

  private val RelId = 16384
  private val BaseMicros = 1700000000000000L

  private def name(rng: java.util.Random): String = {
    val n = 8 + rng.nextInt(17)
    val sb = new StringBuilder(n)
    var i = 0
    while (i < n) { sb.append(('a' + rng.nextInt(26)).toChar); i += 1 }
    sb.toString
  }

  private def shuffled(n: Int, rng: java.util.Random): Array[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** The `mirror_bulk` capture: a pgoutput stream of `txs` single-row
    * transactions on one keyed table, written as framed capture files
    * under `dir`. The first half inserts distinct keys in seeded order;
    * the rest updates keys in another seeded order, every tenth change a
    * delete. Returns the expected destination. */
  def writeCapture(dir: Path, seed: Long, txs: Int): Map[Long, Row] = {
    val rng = new java.util.Random(seed)
    val keys = (txs + 1) / 2
    val insertOrder = shuffled(keys, rng)
    val changeOrder = shuffled(keys, rng)
    val fold = mutable.LongMap.empty[Row]
    val file = dir.resolve("000001.pgout")
    val relation = Relation(RelId, "public", "t", 'd'.toInt, Seq(
      RelationColumn(1, "id", Oid.Int8, -1),
      RelationColumn(0, "name", Oid.Text, -1),
      RelationColumn(0, "v", Oid.Int8, -1)))
    PgOutputFrames.appendFrames(file, Seq(1L -> encode(relation)))
    var lsn = 2L
    def tuple(id: Long, r: Row) =
      TupleData(Seq(text(id.toString), text(r.name), text(r.v.toString)))
    def keyTuple(id: Long) =
      TupleData(Seq(text(id.toString), NullColumn, NullColumn))
    (0 until txs).grouped(20000).foreach { chunk =>
      val frames = chunk.flatMap { i =>
        val dml: Message =
          if (i < keys) {
            val id = insertOrder(i).toLong
            val r = Row(name(rng), rng.nextLong())
            fold(id) = r
            Insert(RelId, tuple(id, r))
          } else {
            val j = i - keys
            val id = changeOrder(j % keys).toLong
            if (j % 10 == 9) {
              fold.remove(id)
              Delete(RelId, 'K', keyTuple(id))
            } else {
              val r = Row(name(rng), rng.nextLong())
              fold(id) = r
              Update(RelId, Some('K'), Some(keyTuple(id)), tuple(id, r))
            }
          }
        val commitLsn = lsn + 2
        val micros = BaseMicros + i
        val out = Seq(
          lsn -> encode(Begin(commitLsn, micros, i + 1)),
          (lsn + 1) -> encode(dml),
          commitLsn -> encode(Commit(0, commitLsn, commitLsn + 1, micros)))
        lsn += 3
        out
      }
      PgOutputFrames.appendFrames(file, frames)
    }
    fold.toMap
  }

  /** The `mirror_trickle` source: an initial table of `rows` keys, then
    * an endless seeded sequence of change batches of `keys` seeded random
    * keys each (each record its own transaction, each key at most once per
    * batch; 30% inserts, the rest updates and deletes of live keys).
    * Batches are made on demand, so a run of any length draws a prefix of
    * the same sequence. The batch size is fixed so that records/s moves
    * with the mirror, not with the draw. */
  final class Trickle(seed: Long, val rows: Int, keys: Int = 300) {
    private val rng = new java.util.Random(seed)
    private val fold = mutable.LongMap.empty[Row]
    private val live = mutable.ArrayBuffer.empty[Long]
    private val pos = mutable.LongMap.empty[Int]
    private var nextId = rows.toLong
    private var cp = 0L

    val snapshot: Seq[(Long, String, Long)] = (0 until rows).map { i =>
      val r = Row(name(rng), rng.nextLong())
      put(i.toLong, r)
      (i.toLong, r.name, r.v)
    }

    private def put(id: Long, r: Row): Unit = {
      if (!fold.contains(id)) { pos(id) = live.size; live += id }
      fold(id) = r
    }
    private def remove(id: Long): Unit = {
      fold.remove(id)
      val i = pos.remove(id).get
      val last = live.remove(live.size - 1)
      if (last != id) { live(i) = last; pos(last) = i }
    }

    /** Checkpoint id of the last record handed out. */
    def lastCp: Long = cp

    def expected: Map[Long, Row] = fold.toMap

    def nextBatch(): Seq[ChangeRecord] = {
      val touched = mutable.HashSet.empty[Long]
      val out = Seq.newBuilder[ChangeRecord]
      def rec(rt: Int, id: Long, r: Row): ChangeRecord = {
        cp += 1
        ChangeRecord(rt, cp, null, BaseMicros + cp, cp, SourceTable,
          SourceTable,
          if (r == null) null
          else s"""{"id":$id,"name":"${r.name}","v":${r.v}}""",
          if (rt == ChangeRecord.TypeInsert) null else s"""{"id":$id}""",
          Nil)
      }
      var n = 0
      while (n < keys) {
        val dice = rng.nextInt(100)
        if (dice < 30 || live.size < 2 * keys) {
          val id = nextId; nextId += 1
          val r = Row(name(rng), rng.nextLong())
          put(id, r); touched += id
          out += rec(ChangeRecord.TypeInsert, id, r)
          n += 1
        } else {
          val id = live(rng.nextInt(live.size))
          if (touched.add(id)) {
            if (dice < 85) {
              val r = Row(name(rng), rng.nextLong())
              put(id, r)
              out += rec(ChangeRecord.TypeUpdate, id, r)
            } else {
              remove(id)
              out += rec(ChangeRecord.TypeDelete, id, null)
            }
            n += 1
          }
        }
      }
      out.result()
    }
  }

  /** Append one batch to the WAL so a concurrently polling stream never
    * sees it half-written: `ChangeLogWal.append` writes into a private
    * staging directory and the finished segment is renamed into the WAL
    * under the next segment name (the name `append` itself would pick).
    * A plain append is several writes, and a trigger that reads between
    * them parses a torn line. */
  def publish(walDir: Path, staging: Path, records: Seq[ChangeRecord])
      : Unit = {
    ChangeLogWal.append(staging.toString, records)
    val staged = ChangeLogWal.segmentFiles(staging)
    require(staged.size == 1, s"staging dir $staging must hold one segment")
    Files.createDirectories(walDir)
    val n = Files.list(walDir).count()
    Files.move(staged.head, walDir.resolve(f"$n%06d.wal"),
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Order-independent fingerprint of a destination: (rows, checksum). */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val r = df.select(
      count(lit(1)),
      coalesce(sum(pmod(xxhash64(col("id"), col("name"), col("v")),
        lit(Int.MaxValue.toLong))), lit(0L))).head
    (r.getLong(0), r.getLong(1))
  }

  def fingerprint(spark: SparkSession, fold: Map[Long, Row]): (Long, Long) =
    fingerprint(spark.createDataFrame(
      fold.toSeq.map { case (id, r) => (id, r.name, r.v) })
      .toDF("id", "name", "v"))
}
