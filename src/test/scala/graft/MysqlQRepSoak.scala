package graft

import java.net.ServerSocket

import org.apache.spark.sql.SparkSession

import graft.cdc.WireServers
import graft.cdc.WireServers.{MysqlAnswer, MysqlCol, MysqlOk}
import graft.qrep.{LiveMysqlPull, MysqlClient}

/** Live-MySQL pull soak (opt-in): throughput of the COM_QUERY
  * text-resultset decode path at scale —
  *
  *   sbt "Test/runMain graft.MysqlQRepSoak [rows] [partitions]"
  *
  * No mysqld exists in this environment, so the server side is the
  * in-suite protocol fixture ([[WireServers.serveMysqlQuery]]) — the
  * number measures the full client path (handshake, bound range
  * queries, length-encoded cell decode, typed Row parse, Spark
  * ingestion, localCheckpoint) plus the fixture's encode, the same
  * posture as the Kafka sink specs' in-process broker. Rows are
  * generated per-request from the parsed BETWEEN range, so fixture
  * memory is O(partition).
  *
  * Measures (a) a full integer-watermark round, (b) a 10% increment,
  * (c) the idle probe floor, and (d) a string-watermark pull through
  * the adaptive bisection partitioner. */
object MysqlQRepSoak {

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(1000000L)
    val parts = args.drop(1).headOption.map(_.toInt).getOrElse(8)

    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-mysql-qrep-soak")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    println(s"== MysqlQRepSoak rows=$rows partitions=$parts ==")

    // ---- integer watermark table: (id, wm, v, payload) generated
    // from the BETWEEN bounds on demand
    @volatile var total = rows
    val intCols = Seq(
      MysqlCol("id", MysqlClient.TypeLongLong),
      MysqlCol("wm", MysqlClient.TypeLongLong),
      MysqlCol("v", MysqlClient.TypeLongLong),
      MysqlCol("payload", 0xFD))
    val Between = "BETWEEN (-?\\d+) AND (-?\\d+)".r
    def rangeOf(sql: String): (Long, Long) =
      Between.findFirstMatchIn(sql) match {
        case Some(m) =>
          (math.max(1L, m.group(1).toLong),
            math.min(total, m.group(2).toLong))
        case None => (1L, total)
      }
    val pad = "x" * 80
    val intListener = new ServerSocket(0)
    WireServers.serveMysqlQuery(intListener, "", { sql =>
      if (sql.startsWith("SET ")) MysqlOk
      else if (sql.contains("LIMIT 0")) MysqlAnswer(intCols, Nil)
      else if (sql.contains("MIN(")) {
        val (lo, hi) = rangeOf(sql)
        val n = math.max(0L, hi - lo + 1)
        MysqlAnswer(
          Seq(MysqlCol("mn", MysqlClient.TypeLongLong),
            MysqlCol("mx", MysqlClient.TypeLongLong),
            MysqlCol("n", MysqlClient.TypeLongLong)),
          Seq(Seq(
            if (n == 0) None else Some(lo.toString),
            if (n == 0) None else Some(hi.toString),
            Some(n.toString))))
      } else {
        val (lo, hi) = rangeOf(sql)
        MysqlAnswer(intCols, (lo to hi).map(g =>
          Seq(Some(g.toString), Some(g.toString),
            Some((g * 3).toString), Some(s"payload-$g-$pad"))))
      }
    })
    try {
      val url = s"mysql://root@127.0.0.1:${intListener.getLocalPort}/db"
      val template = "SELECT id, wm, v, payload FROM soak " +
        "WHERE wm BETWEEN {{.start}} AND {{.end}}"
      def round(label: String, last: Option[Long]): Unit = {
        val t = System.nanoTime()
        val df = LiveMysqlPull.pull(spark, url, template, "wm", last,
          numPartitions = parts)
        val n = df.count() // checkpointed: pull already happened
        val took = (System.nanoTime() - t) / 1e9
        println(f"$label%-12s pulled $n%8d rows in $took%6.1f s " +
          f"(${if (took > 0) n / took else 0}%8.0f rec/s)")
      }
      round("full", None)
      total = rows + rows / 10
      round("increment", Some(rows))
      round("idle", Some(total))
    } finally intListener.close()

    // ---- string watermark table: skewed keys through the adaptive
    // bisection partitioner (EXPLAIN estimates + LIMIT 1 snapping)
    val strN = math.min(rows, 200000L).toInt // key array stays modest
    val keys: Array[String] = {
      val a = new Array[String](strN)
      var i = 0
      while (i < strN) {
        // 90% in one dense prefix, 10% in another — the adaptive
        // splitter's target shape
        a(i) =
          if (i < strN * 9 / 10) f"user-${i}%09d"
          else f"zz-${i}%07d"
        i += 1
      }
      java.util.Arrays.sort(a.asInstanceOf[Array[AnyRef]])
      a
    }
    def idx(k: String, first: Boolean): Int = {
      var lo = 0; var hi = strN
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        val c = keys(mid).compareTo(k)
        if (c < 0 || (!first && c == 0)) lo = mid + 1 else hi = mid
      }
      lo
    }
    def countIn(s: String, e: String): Long =
      math.max(0, idx(e, first = true) - idx(s, first = true)).toLong
    val strCols = Seq(
      MysqlCol("uid", 0xFD),
      MysqlCol("v", MysqlClient.TypeLongLong))
    val Lit = "'([^']*)'".r
    def lits(sql: String) = Lit.findAllMatchIn(sql).map(_.group(1)).toSeq
    val strListener = new ServerSocket(0)
    WireServers.serveMysqlQuery(strListener, "", { sql =>
      if (sql.startsWith("SET ")) MysqlOk
      else if (sql.contains("LIMIT 0")) MysqlAnswer(strCols, Nil)
      else if (sql.contains("SELECT MIN(")) MysqlAnswer(
        Seq(MysqlCol("mn", 0xFD), MysqlCol("mx", 0xFD),
          MysqlCol("n", MysqlClient.TypeLongLong)),
        Seq(Seq(Some(keys.head), Some(keys.last),
          Some(strN.toString))))
      else if (sql.startsWith("EXPLAIN")) {
        val Seq(s, e) = lits(sql)
        MysqlAnswer(Seq(MysqlCol("rows", MysqlClient.TypeLongLong)),
          Seq(Seq(Some(countIn(s, e).toString))))
      } else if (sql.contains("LIMIT 1")) {
        val Seq(mid, s, e) = lits(sql)
        val k =
          if (sql.contains("DESC")) {
            val i = idx(mid, first = true) - 1
            if (i >= 0 && keys(i) > s && keys(i) < e) Some(keys(i))
            else None
          } else {
            val i = idx(mid, first = true)
            if (i < strN && keys(i) > s && keys(i) < e) Some(keys(i))
            else None
          }
        MysqlAnswer(Seq(MysqlCol("uid", 0xFD)),
          k.toSeq.map(v => Seq(Some(v))))
      } else if (sql.contains("IS NULL")) MysqlAnswer(strCols, Nil)
      else {
        val Seq(s, e) = lits(sql)
        val from = idx(s, first = true)
        val to =
          if (sql.contains("BETWEEN")) idx(e, first = false)
          else idx(e, first = true)
        MysqlAnswer(strCols, (from until to).map(i =>
          Seq(Some(keys(i)), Some(i.toString))))
      }
    })
    try {
      val url = s"mysql://root@127.0.0.1:${strListener.getLocalPort}/db"
      val t = System.nanoTime()
      val df = LiveMysqlPull.pullStringKey(spark, url, "soak_str",
        "uid", numPartitions = parts)
      val n = df.count()
      val took = (System.nanoTime() - t) / 1e9
      val sizes = df.rdd
        .mapPartitionsWithIndex((i, it) => Iterator(it.size))
        .collect()
      println(f"string-key   pulled $n%8d rows in $took%6.1f s " +
        f"(${if (took > 0) n / took else 0}%8.0f rec/s), " +
        s"partition sizes ${sizes.mkString(",")}")
      require(n == strN, s"string pull dropped rows: $n != $strN")
    } finally strListener.close()

    spark.stop()
  }
}
