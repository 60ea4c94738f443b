package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components by iterative min-label propagation —
  * the clustering stage that turns near-duplicate PAIRS (minhash / simhash /
  * jaccard verify output) into duplicate GROUPS with one canonical
  * representative each, i.e. the final step of a corpus-dedup pipeline.
  *
  * Reference context: PeerDB itself has no graph ops (SURVEY §2.5); this is
  * part of the training-data-pipeline extension surface.
  *
  * Algorithm: every node starts labeled with itself; each round, every node
  * takes the minimum label among itself and its neighbors; stop when no
  * label changes. Rounds = graph diameter. Near-dup graphs are unions of
  * near-cliques (every member of a duplicate group pairs with most others),
  * so convergence is 2–3 rounds in practice; `maxIters` bounds adversarial
  * chains. For graphs with genuinely large diameters at 100 TB scale,
  * switch to the alternating large-star/small-star algorithm (Kiveris et
  * al., "Connected Components in MapReduce and Beyond", SoCC'14) which
  * converges in O(log n) rounds with the same per-round join+min-aggregate
  * shape — the propagation core below is deliberately that shape.
  *
  * Scale notes:
  *   - the bidirectional edge frame is checkpointed ONCE and re-joined every
  *     round (no ReusedExchange across actions otherwise — each round would
  *     recompute the pair-generation pipeline);
  *   - each round is one shuffle join (edges ⋈ labels on src) + one partial
  *     (map-side) min-aggregate on dst + one join back to labels — all keyed
  *     on node id, so AQE can coalesce and the label frame stays one short
  *     row per node that appears in any pair (a small fraction of the
  *     corpus);
  *   - per-round localCheckpoint cuts the lineage (iterative plans otherwise
  *     grow exponentially) and doubles as the convergence-count action.
  */
object ConnectedComponents {

  /** Min-label connected components over an undirected edge list.
    *
    * @param edges    one row per undirected edge
    * @param src,dst  edge endpoint columns (any orderable integral type)
    * @return one row per node that appears in `edges`:
    *         (node, cluster_id = min node id of its component)
    */
  def minLabel(edges: DataFrame, src: String, dst: String,
               maxIters: Int = 25,
               localEdgeThreshold: Long = 1L << 20): DataFrame = {
    val sc = edges.sparkSession.sparkContext

    // Dataset.unpersist does NOT free localCheckpoint blocks (they are
    // plain persisted RDDs, not CacheManager entries), so track the RDD
    // ids each checkpoint registers and free them by id when the round's
    // frame goes dead — an N-round run must not pin N label frames.
    def ckpt(df: DataFrame, eager: Boolean = true): (DataFrame, Set[Int]) = {
      val before = sc.getPersistentRDDs.keySet
      val out = df.localCheckpoint(eager)
      (out, (sc.getPersistentRDDs.keySet -- before).toSet)
    }
    def free(ids: Set[Int]): Unit =
      sc.getPersistentRDDs.view.filterKeys(ids).values
        .foreach(_.unpersist(blocking = false))

    val dir = edges.select(col(src).as("cc_a"), col(dst).as("cc_b"))
    val (e, eIds) = ckpt(
      dir.union(dir.select(col("cc_b").as("cc_a"), col("cc_a").as("cc_b"))))

    // ADAPTIVE small-graph path (the same runtime-adaptivity argument AQE
    // makes): below the threshold a driver-side union-find replaces 2–4
    // distributed join+aggregate rounds (each ~0.2–0.3 s of pure job
    // latency on a tiny frame). Identical output: component min as the
    // label. This is an OPTIMIZATION for small verdict graphs only — a
    // 100 TB crawl with a ~1% dup rate emits billions of pairs, far past
    // any driver; those runs take the distributed rounds below. The
    // threshold is additionally capped by a byte budget (16 B per
    // collected (Long, Long) pair plus row overhead) against a small
    // fraction of driver heap, so an oversized caller-supplied threshold
    // cannot OOM the driver.
    val eCount = e.count() // cheap: e is the eager checkpoint
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val byteCap = Runtime.getRuntime.maxMemory() / 64 / 48 // ≈1.5% of heap
    val cap = math.min(localEdgeThreshold, byteCap)
    // Node type from the COERCED bidirectional frame (union widens mixed
    // INT/BIGINT endpoints): casting results back to the src column's
    // narrower type would silently truncate 64-bit dst ids.
    val nodeType = e.schema("cc_a").dataType
    val integral = Seq(ByteType, ShortType, IntegerType, LongType)
      .contains(nodeType)
    if (eCount > 0 && eCount <= cap && integral) {
      val pairs = e.selectExpr("CAST(cc_a AS BIGINT)", "CAST(cc_b AS BIGINT)")
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x // path compression
        while (parent.getOrElse(c, c) != c) {
          val n = parent(c); parent(c) = r; c = n
        }
        r
      }
      pairs.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { // union by MIN root = the min-label contract
          if (ra < rb) parent(rb) = ra else parent(ra) = rb
        }
        parent.getOrElseUpdate(a, find(a))
        parent.getOrElseUpdate(b, find(b))
      }
      val nodes = pairs.flatMap(p => Seq(p._1, p._2)).distinct
      val out = edges.sparkSession
        .createDataFrame(nodes.toSeq.map(n => (n, find(n))))
        .toDF("node", "cluster_id")
        .select(col("node").cast(nodeType).as("node"),
          col("cluster_id").cast(nodeType).as("cluster_id"))
      free(eIds)
      return out
    }

    // Init fuses the FIRST propagation round: label(v) = min(v, min
    // neighbor) is one aggregation over the edge list — no join — and on
    // near-clique components it already lands most nodes on their
    // component min, typically saving one full join round.
    //
    // Every round LAZY-localCheckpoints: the plan is cut to a LogicalRDD
    // immediately (without the cut, each round's plan embeds the previous
    // one TWICE — join side + union side — i.e. exponential growth), and
    // the convergence aggregate below doubles as the action that
    // materializes the checkpoint — one job per round, not two.
    var (labels, labelIds) = ckpt(
      e.groupBy("cc_a")
        .agg(least(min(col("cc_b")), col("cc_a")).as("cluster_id"))
        .select(col("cc_a").as("node"), col("cluster_id")),
      eager = false)

    // Convergence witness: sum(cluster_id) is non-increasing across rounds
    // and strictly decreases whenever ANY label improves — a one-number
    // aggregate, much cheaper than a changed-rows join-back.
    // Decimal(38,0): an ANSI-mode BIGINT sum could overflow on wide-id
    // corpora. Null sum ⇔ empty graph.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("cluster_id").cast("decimal(38,0)")))
        .head().getDecimal(0)

    var prevSum = labelSum(labels)
    var converged = prevSum == null // empty edge list: nothing to iterate
    var round = 0
    while (!converged && round < maxIters) {
      // One hop: each node takes the min label among itself and its
      // neighbors — a single shuffle join plus a single (partial-then-
      // final) min-aggregate per round. shuffle_hash: both sides are
      // mid-cardinality keyed frames — broadcast would rebuild the full
      // label map per task, SMJ pays two sorts (same measurement as the
      // shingle/band self-joins: 0.7 s hinted vs 2.2 s at sf0.1, NOTES.md
      // "Self-joins on mid-cardinality keys").
      val (next, nextIds) = ckpt(
        e.join(labels.hint("shuffle_hash"), e("cc_a") === labels("node"))
          .select(col("cc_b").as("node"), col("cluster_id"))
          .union(labels)
          .groupBy("node")
          .agg(min("cluster_id").as("cluster_id")),
        eager = false)
      val s = labelSum(next) // materializes next's checkpoint
      converged = s.compareTo(prevSum) == 0
      prevSum = s
      // The previous round's blocks are dead once `next` is materialized.
      free(labelIds)
      labels = next
      labelIds = nextIds
      round += 1
    }
    // `labels` is checkpointed (lineage cut), so the edge frame is no
    // longer reachable from the result — free it too.
    free(eIds)
    labels
  }
}
