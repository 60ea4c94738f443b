package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.functions.{Similarity, TextFunctions => TF}

/** Training-data-pipeline operators over `documents` and `embeddings` —
  * the beyond-the-reference surface (dedup, similarity search, text
  * analysis, multimodal plumbing), designed for 100 TB corpora:
  *
  *   - per-document ops are codegen'd column expressions (no shuffle);
  *   - near-dup candidate generation goes through LSH band/bucket JOIN KEYS
  *     (linear + equi-join) — never an all-pairs cross join;
  *   - the exact n-gram Jaccard is computed only over candidate pairs from
  *     an inverted shingle index (the classic verify step after LSH).
  *
  * Hash-based ops (minhash/simhash/LSH) run in a portable 60-bit integer
  * hash domain (md5-derived, TextFunctions/Similarity) precisely so the
  * DuckDB oracle can replay them bit-for-bit; only IVF k-means training
  * (float mean accumulation) remains rows-only.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** DuckDB 3-word shingle list for a `ws` VARCHAR[] column (1-based). */
  private val duckShingles =
    "list_transform(generate_series(1, len(ws) - 2), " +
      "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])"

  // -------------------------------------------------------------- dedup

  /** Exact dedup: content-hash groupBy keeping the lowest doc id — the
    * hash-shuffle dedup that scales to any corpus size. */
  val dedupExact = GraftQuery(
    "q_dedup_exact",
    "exact duplicate grouping by content hash (keep lowest doc_id)",
    (s, dir) => docs(s, dir)
      .groupBy(md5(col("text")).as("h"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("copies"))
      .orderBy("h"),
    Some("""SELECT md5(text) AS h, min(doc_id) AS keep_id,
           |  count(*) AS copies
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Exact n-gram Jaccard near-dup detection via an inverted shingle
    * index: explode distinct 3-gram shingles, self-join on the shingle
    * (candidate pairs only — at scale this is the post-LSH verify), count
    * intersections, keep pairs with Jaccard ≥ 0.3. Integer-only output
    * (inter, uni): 10*inter >= 3*uni ⇔ J ≥ 0.3, no FP anywhere. */
  val dedupNgramJaccard = GraftQuery(
    "q_dedup_ngram_jaccard",
    "n-gram Jaccard near-dup pairs over an inverted shingle index",
    (s, dir) => {
      // Shared inverted-index stage (TokenStats.shingleIndex3): the
      // distinct shingle index, per-doc counts and the candidate-pair
      // intersections are computed ONCE per session and reused by the
      // containment gate — each gate is then one broadcast-join pass
      // over the pair table. Hint/checkpoint rationale lives with the
      // stage; previously each gate paid its own index + self-join.
      val ix = TokenStats.shingleIndex3(s, dir)
      ix.pairs
        // Explicit broadcast: cnt is one short row per doc but its plan
        // roots at the documents scan, so the planner's size estimate
        // (text column included) vastly overshoots and would sort-merge
        // the million-row pairs frame twice.
        .join(broadcast(ix.cnt.as("ca")), col("d1") === col("ca.doc_id"))
        .join(broadcast(ix.cnt.as("cb")), col("d2") === col("cb.doc_id"))
        .select(col("d1"), col("d2"), col("inter"),
          (col("ca.n") + col("cb.n") - col("inter")).as("uni"))
        .filter(col("inter") * 10 >= col("uni") * 3)
        .orderBy("d1", "d2")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            |           FROM documents),
            |sh AS (SELECT DISTINCT doc_id, s
            |       FROM (SELECT doc_id, unnest($duckShingles) AS s
            |             FROM w WHERE len(ws) >= 3)),
            |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
            |            count(*) AS inter
            |          FROM sh a JOIN sh b
            |            ON a.s = b.s AND a.doc_id < b.doc_id
            |          GROUP BY 1, 2)
            |SELECT d1, d2, inter, ca.n + cb.n - inter AS uni
            |FROM pairs
            |JOIN cnt ca ON ca.doc_id = d1
            |JOIN cnt cb ON cb.doc_id = d2
            |WHERE inter * 10 >= (ca.n + cb.n - inter) * 3
            |ORDER BY d1, d2""".stripMargin))

  /** MinHash + LSH banding: 32-hash signature, 8 bands × 4 rows; docs
    * sharing a band key become candidate pairs through an equi-join on
    * (band, key) — the linear-time near-dup path for 100 TB corpora.
    * Portable 60-bit hashes → full DuckDB oracle. */
  val dedupMinhashLsh = GraftQuery(
    "q_dedup_minhash_lsh",
    "MinHash(32) + LSH(8×4) near-dup candidate pairs",
    (s, dir) => {
      // Fused-loop signature expression: each doc's 32-slot signature is
      // computed in the scan stage (hash each shingle once, update the
      // minima in place) — NO shuffle before candidate banding, unlike
      // the explode + 32-min-aggregate formulation it bit-for-bit equals
      // (SignatureExprsSpec).
      // localCheckpoint: the banding HOF references `sig` once per band
      // and Catalyst does NOT hoist the common subexpression — without a
      // materialization the whole signature (md5 of every shingle!) would
      // recompute 8×, measured 17× slower end-to-end.
      val sig = docs(s, dir)
        .select(col("doc_id"), TF.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), graft.functions.SignatureExprs.minhashSig(
          array_distinct(graft.functions.SignatureExprs
            .wordShingles(col("ws"), 3)), 32).as("sig"))
        .localCheckpoint(true)
      // Candidate pairs via a shuffle-hash self-join on (band, key) —
      // the same choice as the simhash bucket join: distributes a hot
      // bucket's K² pair work across tasks instead of serializing it in
      // one interpreted in-row expansion, and measured faster even on
      // mild buckets (0.29s vs 0.34s, NOTES.md "Harness-measured
      // choices"). The band-key frame is tiny (bands × docs) —
      // checkpoint it so the signature pipeline runs once, not once per
      // join side.
      val bands = sig
        .withColumn("bands", TF.minhashBands("sig", 8, 4))
        .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))
        .localCheckpoint(true)
      bands.as("a")
        .join(bands.as("b").hint("shuffle_hash"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
        .orderBy("d1", "d2")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            |           FROM documents),
            |bandkeys AS (
            |  ${TF.minhashBandsDuckSql("doc_id", duckShingles, "w",
               "WHERE len(ws) >= 3", k = 32, bands = 8, rowsPerBand = 4)}
            |)
            |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            |FROM bandkeys a JOIN bandkeys b
            |  ON a.band = b.band AND a.key = b.key
            |    AND a.doc_id < b.doc_id
            |ORDER BY d1, d2""".stripMargin))

  /** LSH banding-quality audit — the tuning table for the 8×4 MinHash
    * config every near-dup query here relies on: against the exact
    * J ≥ 0.3 truth (the inverted-index pairs of q_dedup_ngram_jaccard),
    * how many LSH candidate pairs are real (precision) and how many
    * real pairs the bands surface (recall)? This is the measurement
    * that justifies a band configuration BEFORE a 100 TB run commits
    * to it — recall bounds what dedup can ever remove, precision
    * bounds the wasted verify work. One self-validating audit row; all
    * counts integer, ratios per mille with zero-guards, so the oracle
    * replays exactly. Truth and candidates both reuse machinery that
    * is already independently oracled (the shared shingle index and
    * the banding expressions) — this query pins their RELATIONSHIP,
    * like q_ann_recall does for IVF vs brute force. */
  val lshPrecision = GraftQuery(
    "q_lsh_precision",
    "LSH band-config audit: precision/recall vs exact Jaccard truth",
    (s, dir) => {
      val ix = TokenStats.shingleIndex3(s, dir)
      val truth = ix.pairs
        .join(broadcast(ix.cnt.as("ca")), col("d1") === col("ca.doc_id"))
        .join(broadcast(ix.cnt.as("cb")), col("d2") === col("cb.doc_id"))
        .filter(col("inter") * 10 >=
          (col("ca.n") + col("cb.n") - col("inter")) * 3)
        .select("d1", "d2")
        .localCheckpoint(true) // two consumers: count + hits semi-join
      val sig = docs(s, dir)
        .select(col("doc_id"), TF.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), graft.functions.SignatureExprs.minhashSig(
          array_distinct(graft.functions.SignatureExprs
            .wordShingles(col("ws"), 3)), 32).as("sig"))
        .localCheckpoint(true)
      val bands = sig
        .withColumn("bands", TF.minhashBands("sig", 8, 4))
        .select(col("doc_id"), posexplode(col("bands")).as(Seq("band", "key")))
        .localCheckpoint(true)
      val cand = bands.as("a")
        .join(bands.as("b").hint("shuffle_hash"),
          col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
        .distinct()
        .localCheckpoint(true)
      val hits = cand.join(truth, Seq("d1", "d2"), "left_semi")
      cand.agg(count(lit(1)).as("n_cand"))
        .crossJoin(truth.agg(count(lit(1)).as("n_true")))
        .crossJoin(hits.agg(count(lit(1)).as("n_hits")))
        .select(col("n_cand"), col("n_true"), col("n_hits"),
          expr("n_hits * 1000 DIV greatest(n_cand, 1)").as("precision_pm"),
          expr("n_hits * 1000 DIV greatest(n_true, 1)").as("recall_pm"))
        .orderBy("n_cand")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            |           FROM documents),
            |sh AS (SELECT DISTINCT doc_id, s
            |       FROM (SELECT doc_id, unnest($duckShingles) AS s
            |             FROM w WHERE len(ws) >= 3)),
            |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
            |            count(*) AS inter
            |          FROM sh a JOIN sh b
            |            ON a.s = b.s AND a.doc_id < b.doc_id
            |          GROUP BY 1, 2),
            |truth AS (SELECT d1, d2 FROM pairs
            |          JOIN cnt ca ON ca.doc_id = d1
            |          JOIN cnt cb ON cb.doc_id = d2
            |          WHERE inter * 10 >= (ca.n + cb.n - inter) * 3),
            |bandkeys AS (
            |  ${TF.minhashBandsDuckSql("doc_id", duckShingles, "w",
               "WHERE len(ws) >= 3", k = 32, bands = 8, rowsPerBand = 4)}
            |),
            |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
            |         FROM bandkeys a JOIN bandkeys b
            |           ON a.band = b.band AND a.key = b.key
            |             AND a.doc_id < b.doc_id),
            |hits AS (SELECT c.d1, c.d2
            |         FROM cand c JOIN truth t USING (d1, d2))
            |SELECT (SELECT count(*) FROM cand) AS n_cand,
            |  (SELECT count(*) FROM truth) AS n_true,
            |  (SELECT count(*) FROM hits) AS n_hits,
            |  (SELECT count(*) FROM hits) * 1000 //
            |    greatest((SELECT count(*) FROM cand), 1)
            |    AS precision_pm,
            |  (SELECT count(*) FROM hits) * 1000 //
            |    greatest((SELECT count(*) FROM truth), 1) AS recall_pm
            |ORDER BY n_cand""".stripMargin))

  /** Multi-table hyperplane LSH audit — the RECALL LEVER
    * [[graft.functions.Similarity.adaptiveHyperplanes]] documents for
    * corpora grown past the fixture regime: L independent 6-bit
    * hyperplane tables over DISJOINT plane ranges, candidates united
    * (sign-LSH collision p per table → 1−(1−p)^L over L tables, at
    * ~L× candidate cost). One audit row per cumulative table count
    * L ∈ 1..3 against the exact quantized-cosine ≥ 0.25 truth, so the
    * recall/cost tradeoff is MEASURED, not asserted — the number one
    * reads before choosing L for a 100 TB dedup run. Every count is
    * integer and both engines run identical plane arithmetic (table t
    * = planes t·6 … t·6+5), so the oracle replays exactly.
    *
    * SCALE NOTE: the exact-truth side is an O(n²) self-join BY DESIGN
    * — an audit runs on a sample (thousands of vectors), never the
    * full corpus; only the candidate side (buckets + per-bucket
    * joins) is the production shape. Same regime split as
    * q_lsh_precision. */
  val lshMultitable = GraftQuery(
    "q_lsh_multitable",
    "multi-table LSH audit: recall/cost per cumulative table count",
    (s, dir) => {
      val bits = 6
      val nTables = 3
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
        // spread the single-file scan across the session's cores: the
        // O(n²) truth join below streams THIS side, and unspread it
        // runs as one task (measured 0.8-1.0 s serial at sf0.1);
        // Tables.spread is a no-op on already-wide scans
        .transform(Tables.spread)
        .localCheckpoint(true)
      val truth = e.as("a")
        .join(e.as("b"), col("a.vec_id") < col("b.vec_id"))
        .filter(Similarity.quantizedCosineAtLeast(
          col("a.qe"), col("b.qe"), num = 1L, denom = 16L))
        .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
        .localCheckpoint(true)
      // all L bucket keys in ONE pass over the pinned frame — a
      // posexplode of the per-table key array replaces the r15 L-leg
      // unionAll, whose 3×32 tiny partitions made every downstream
      // stage a 96-task schedule (measured 0.865 s for the candidate
      // join's map stage at sf0.1); at scale this is one scan of the
      // embeddings instead of L. No pin: both self-join sides plan the
      // identical exchange and Catalyst reuses it (ReusedExchange).
      val buckets = e.select(col("vec_id"),
        posexplode(array((0 until nTables).map(t =>
          Similarity.hyperplaneBucketTable("embedding", bits, t)): _*))
          .as(Seq("t", "bucket")))
      // one row per candidate pair, tagged with the FIRST table that
      // surfaces it — cumulative-L counts are then a mt < L filter
      val cand = buckets.as("a")
        .join(buckets.as("b").hint("shuffle_hash"),
          col("a.t") === col("b.t") &&
            col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        .groupBy(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
        .agg(min(col("a.t")).as("mt"))
      // BOTH per-mt histograms (all candidates, truth-verified
      // candidates) from ONE aggregation/collect: truth pairs are
      // unique by construction (a BNL over vec_id < vec_id emits each
      // pair once), so a left join + conditional count equals the r15
      // semi-join exactly while halving the tail jobs (two collects →
      // one; measured 0.43+0.44 s of AQE stages for the second).
      // Histograms are ≤ nTables rows BY CONSTRUCTION (mt ∈ 0..L-1) —
      // the bounded-collect pattern the audits use. Integer math
      // identical: Long / Long is the same truncating division as SQL
      // DIV on these non-negative counts.
      val h = cand
        .join(truth.withColumn("tr", lit(true)), Seq("d1", "d2"), "left")
        .groupBy("mt")
        .agg(count(lit(1)).as("c"), count(col("tr")).as("hc"))
        .collect()
      val candH = h.map(r => r.getInt(0) -> r.getLong(1)).toMap
      val hitsH = h.map(r => r.getInt(0) -> r.getLong(2)).toMap
      val nTrue = truth.count()
      import s.implicits._
      (1 to nTables).map { l =>
        val nc = (0 until l).map(candH.getOrElse(_, 0L)).sum
        val nh = (0 until l).map(hitsH.getOrElse(_, 0L)).sum
        (l.toLong, nc, nTrue, nh,
          nh * 1000L / math.max(nTrue, 1L), nh * 1000L / math.max(nc, 1L))
      }.toDF("l", "n_cand", "n_true", "n_hits", "recall_pm",
          "precision_pm")
        .orderBy("l")
    },
    Some(s"""WITH q AS (SELECT vec_id,
            |    list_transform(embedding, x ->
            |      CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe
            |  FROM embeddings),
            |truth AS (
            |  SELECT d1, d2 FROM (
            |    SELECT a.vec_id AS d1, b.vec_id AS d2,
            |      list_sum(list_transform(generate_series(1, len(a.qe)),
            |        i -> a.qe[i] * b.qe[i])) AS dot,
            |      list_sum(list_transform(a.qe, x -> x * x)) AS na,
            |      list_sum(list_transform(b.qe, x -> x * x)) AS nb
            |    FROM q a JOIN q b ON a.vec_id < b.vec_id)
            |  WHERE dot >= 0 AND dot * dot * 16 >= na * nb),
            |buckets AS (
            |  SELECT 0 AS t, vec_id,
            |    ${Similarity.hyperplaneBucketDuckSql("embedding", 6, 0)}
            |    AS bucket FROM embeddings
            |  UNION ALL SELECT 1, vec_id,
            |    ${Similarity.hyperplaneBucketDuckSql("embedding", 6, 6)}
            |  FROM embeddings
            |  UNION ALL SELECT 2, vec_id,
            |    ${Similarity.hyperplaneBucketDuckSql("embedding", 6, 12)}
            |  FROM embeddings),
            |cand AS (SELECT a.vec_id AS d1, b.vec_id AS d2,
            |    min(a.t) AS mt
            |  FROM buckets a JOIN buckets b
            |    ON a.t = b.t AND a.bucket = b.bucket
            |      AND a.vec_id < b.vec_id
            |  GROUP BY 1, 2),
            |hits AS (SELECT c.mt FROM cand c JOIN truth USING (d1, d2)),
            |ls AS (SELECT CAST(unnest(generate_series(1, 3)) AS BIGINT)
            |         AS l)
            |SELECT l,
            |  (SELECT count(*) FROM cand WHERE mt < l) AS n_cand,
            |  (SELECT count(*) FROM truth) AS n_true,
            |  (SELECT count(*) FROM hits WHERE mt < l) AS n_hits,
            |  (SELECT count(*) FROM hits WHERE mt < l) * 1000 //
            |    greatest((SELECT count(*) FROM truth), 1) AS recall_pm,
            |  (SELECT count(*) FROM hits WHERE mt < l) * 1000 //
            |    greatest((SELECT count(*) FROM cand WHERE mt < l), 1)
            |    AS precision_pm
            |FROM ls ORDER BY l""".stripMargin))

  /** SimHash near-dup: 60-bit majority-vote signature; candidates bucket by
    * the 16-bit prefix, verified by Hamming distance ≤ 12 (bit_count of
    * XOR). Portable hashes → full DuckDB oracle. */
  /** SimHash near-dup pairs (shared by q_dedup_simhash and
    * q_dedup_cluster): (d1, d2, hamming) with Hamming ≤ 12.
    *
    * Bucketed self-join (not per-bucket array pairing): with skewed
    * buckets the join distributes the K² pair work across tasks, while
    * an in-row pair expansion serializes each bucket into one
    * interpreted expression — measured slower.
    * localCheckpoint: the signature frame is tiny (one row per doc) but
    * its 3-shuffle pipeline would otherwise execute once PER JOIN SIDE
    * (no ReusedExchange across the self-join) — at scale you persist
    * the signature table anyway before candidate generation.
    * Fused-loop signature (SimHash60Expr): votes accumulate per doc in
    * the scan stage — no explode, no 60-sum aggregate shuffle; equals
    * TF.simhashSignatures bit-for-bit (SignatureExprsSpec). */
  private[queries] def simhashPairs(s: SparkSession, dir: String)
      : DataFrame = {
    val sig = docs(s, dir)
      .select(col("doc_id"), graft.functions.SignatureExprs
        .simhash60(TF.words(col("text"))).as("sig"))
      .withColumn("bucket", expr("shiftrightunsigned(sig, 44)"))
      .select("doc_id", "sig", "bucket")
      .localCheckpoint(true)
    sig.as("a")
      .join(sig.as("b").hint("shuffle_hash"),
        col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .withColumn("hamming", expr("bit_count(a.sig ^ b.sig)"))
      .filter(col("hamming") <= 12)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        col("hamming"))
  }

  /** DuckDB CTE list producing the same (d1, d2) pair set as
    * [[simhashPairs]]; compose after a `WITH [RECURSIVE]`. */
  private[queries] val duckSimhashPairs =
    s"""sig AS (
       |  ${TF.simhashDuckSql("doc_id", "text", "documents")}
       |),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2,
       |    CAST(bit_count(xor(a.sig, b.sig)) AS INT) AS hamming
       |  FROM sig a JOIN sig b
       |    ON (a.sig // ${1L << 44}) = (b.sig // ${1L << 44})
       |      AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.sig, b.sig)) <= 12
       |)""".stripMargin

  val dedupSimhash = GraftQuery(
    "q_dedup_simhash",
    "SimHash(60) near-dup pairs (prefix bucket + Hamming verify)",
    (s, dir) => simhashPairs(s, dir).orderBy("d1", "d2"),
    Some(s"""WITH $duckSimhashPairs
            |SELECT d1, d2, hamming FROM pairs
            |ORDER BY d1, d2""".stripMargin))

  /** Near-dup CLUSTERING — the step after pair detection: connected
    * components over the simhash pair graph assign every near-duplicate
    * doc a canonical cluster id (the min doc_id of its component), plus
    * the cluster size. This is what a real corpus-dedup job keys its
    * "keep one representative per group" filter on; pairs alone can't do
    * it (A~B, B~C ⇒ {A,B,C} must collapse together even when A≁C).
    *
    * Spark side: iterative min-label propagation
    * ([[graft.operators.ConnectedComponents]]) — one shuffle join + one
    * min-aggregate per round, converges in ~diameter rounds (near-dup
    * components are near-cliques, 2–3 rounds). Oracle: DuckDB recursive
    * CTE propagating labels downhill (lbl < node prunes the closure to
    * O(component²) rows — near-dup components are small). */
  val dedupCluster = GraftQuery(
    "q_dedup_cluster",
    "near-dup clusters: connected components over simhash pairs",
    (s, dir) => {
      val lab = graft.operators.ConnectedComponents
        .minLabel(simhashPairs(s, dir), "d1", "d2")
      val sz = lab.groupBy("cluster_id").agg(count(lit(1)).as("csize"))
      // sz is one short row per cluster but plan-rooted at the documents
      // scan — the planner's size estimate overshoots; broadcast it.
      lab.join(broadcast(sz), "cluster_id")
        .select(col("node").as("doc_id"), col("cluster_id"), col("csize"))
        .orderBy("doc_id")
    },
    Some(s"""WITH RECURSIVE $duckSimhashPairs,
            |e AS (SELECT d1 AS a, d2 AS b FROM pairs
            |      UNION ALL SELECT d2, d1 FROM pairs),
            |cc(node, lbl) AS (
            |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
            |  UNION
            |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.node
            |  WHERE cc.lbl < e.b
            |),
            |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
            |        FROM cc GROUP BY 1),
            |sz AS (SELECT cluster_id, count(*) AS csize
            |       FROM lab GROUP BY 1)
            |SELECT l.doc_id, l.cluster_id, s.csize
            |FROM lab l JOIN sz s USING (cluster_id)
            |ORDER BY doc_id""".stripMargin))

  // ------------------------------------------------------- text analysis

  /** Marker-word language ID heuristic with a deterministic argmax
    * (precedence en > de > es > fr > zh on ties). */
  val textLangId = GraftQuery(
    "q_text_langid",
    "n-gram/stopword language-ID heuristic",
    (s, dir) => {
      docs(s, dir)
        .withColumn("c_en", TF.markerCount(col("text"), "the"))
        .withColumn("c_de", TF.markerCount(col("text"), "der"))
        .withColumn("c_es", TF.markerCount(col("text"), "el"))
        .withColumn("c_fr", TF.markerCount(col("text"), "le"))
        .withColumn("c_zh", TF.markerCount(col("text"), "的"))
        .withColumn("pred_lang",
          when(col("c_en") >= col("c_de") && col("c_en") >= col("c_es") &&
            col("c_en") >= col("c_fr") && col("c_en") >= col("c_zh"), "en")
            .when(col("c_de") >= col("c_es") && col("c_de") >= col("c_fr") &&
              col("c_de") >= col("c_zh"), "de")
            .when(col("c_es") >= col("c_fr") && col("c_es") >= col("c_zh"),
              "es")
            .when(col("c_fr") >= col("c_zh"), "fr")
            .otherwise("zh"))
        .select(col("doc_id"), col("lang"), col("c_en"), col("c_de"),
          col("c_es"), col("c_fr"), col("c_zh"), col("pred_lang"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, lang, c_en, c_de, c_es, c_fr, c_zh,
           |  CASE
           |    WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr
           |      AND c_en >= c_zh THEN 'en'
           |    WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh
           |      THEN 'de'
           |    WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
           |    WHEN c_fr >= c_zh THEN 'fr'
           |    ELSE 'zh' END AS pred_lang
           |FROM (SELECT doc_id, lang,
           |        len(list_filter(string_split(text, ' '),
           |          w -> w = 'the')) AS c_en,
           |        len(list_filter(string_split(text, ' '),
           |          w -> w = 'der')) AS c_de,
           |        len(list_filter(string_split(text, ' '),
           |          w -> w = 'el')) AS c_es,
           |        len(list_filter(string_split(text, ' '),
           |          w -> w = 'le')) AS c_fr,
           |        len(list_filter(string_split(text, ' '),
           |          w -> w = '的')) AS c_zh
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Document quality score: integer-only blend of length, stopword count
    * and average word length (the length/punct/stopword-ratio family). */
  val textQuality = GraftQuery(
    "q_text_quality",
    "document quality scoring (length/stopword/word-length blend)",
    (s, dir) => {
      val ws = TF.words(col("text"))
      docs(s, dir)
        .withColumn("n_words", size(ws))
        .withColumn("stop_cnt",
          TF.markerCount(col("text"), "the") + TF.markerCount(col("text"), "a"))
        .withColumn("avg_wlen_x100",
          expr("((length(text) - (n_words - 1)) * 100) DIV n_words"))
        .withColumn("score",
          expr("least(n_words, 100) * 50 DIV 100 + " +
            "least(stop_cnt, 20) * 30 DIV 20 + " +
            "least(avg_wlen_x100, 800) * 20 DIV 800"))
        .select(col("doc_id"), col("n_words"), col("stop_cnt"),
          col("avg_wlen_x100"), col("score"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, n_words, stop_cnt, avg_wlen_x100,
           |  least(n_words, 100) * 50 // 100 +
           |    least(stop_cnt, 20) * 30 // 20 +
           |    least(avg_wlen_x100, 800) * 20 // 800 AS score
           |FROM (SELECT doc_id, n_words, stop_cnt,
           |        ((length(text) - (n_words - 1)) * 100) // n_words
           |          AS avg_wlen_x100
           |      FROM (SELECT doc_id, text,
           |              len(string_split(text, ' ')) AS n_words,
           |              len(list_filter(string_split(text, ' '),
           |                w -> w = 'the')) +
           |              len(list_filter(string_split(text, ' '),
           |                w -> w = 'a')) AS stop_cnt
           |            FROM documents))
           |ORDER BY doc_id""".stripMargin))

  /** Token counting: whitespace tokens + regex letter-run tokens. */
  val textTokens = GraftQuery(
    "q_text_tokens",
    "token counting (whitespace + regex pre-tokenizer)",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        size(TF.words(col("text"))).as("ws_tokens"),
        TF.regexTokenCount(col("text")).cast("bigint").as("re_tokens"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  len(string_split(text, ' ')) AS ws_tokens,
           |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT)
           |    AS re_tokens
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Position-weighted rolling-hash document fingerprint (mod 1e9+7). */
  val textFingerprint = GraftQuery(
    "q_text_fingerprint",
    "rolling-hash document fingerprinting",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"),
        TF.fingerprint(TF.words(col("text"))).as("fp"))
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id,
            |  ${TF.fingerprintDuckSql("string_split(text, ' ')")} AS fp
            |FROM documents ORDER BY doc_id""".stripMargin))

  // --------------------------------------------------- similarity search

  /** Brute-force cosine top-k: rank all vectors against a fixed query
    * vector (vec_id 0). Output is the RANKING only (integer columns) —
    * cross-engine FP equality of the similarity itself is not required,
    * rank order is stable because cosine gaps ≫ FP noise. */
  val annCosineTopk = GraftQuery(
    "q_ann_cosine_topk",
    "brute-force cosine top-10 ANN against query vector 0",
    (s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      // Global top-k via orderBy+limit (TakeOrderedAndProject: each
      // partition keeps its local top 10, the driver merges k·parts rows)
      // — NOT a row_number window, which would single-partition the corpus.
      val top = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("sim",
          Similarity.cosineFast(col("embedding"), col("q_emb")))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
      graft.operators.GlobalRank.withRowNumber(
          top, Seq(col("sim").desc, col("vec_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("vec_id"), col("label"))
        .orderBy("rank")
    },
    Some("""SELECT rank, vec_id, label
           |FROM (SELECT ROW_NUMBER() OVER (
           |        ORDER BY list_cosine_similarity(e.embedding, q.q_emb)
           |          DESC, e.vec_id) AS rank,
           |        e.vec_id, e.label
           |      FROM embeddings e,
           |        (SELECT embedding AS q_emb FROM embeddings
           |         WHERE vec_id = 0) q
           |      WHERE e.vec_id <> 0)
           |WHERE rank <= 10 ORDER BY rank""".stripMargin))

  /** Scale path for ANN: 6-bit random-hyperplane LSH buckets — search
    * only within a bucket (equi-join key) instead of the full corpus.
    * Quantized integer projections → full DuckDB oracle. */
  val annLshBuckets = GraftQuery(
    "q_ann_lsh_buckets",
    "random-hyperplane LSH bucketing of the embedding space",
    (s, dir) => embs(s, dir)
      .withColumn("bucket", Similarity.hyperplaneBucket("embedding", 6))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vecs"), min("vec_id").as("min_vec_id"))
      .orderBy("bucket"),
    Some(s"""SELECT bucket, count(*) AS n_vecs, min(vec_id) AS min_vec_id
            |FROM (SELECT vec_id,
            |  ${Similarity.hyperplaneBucketDuckSql("embedding", 6)}
            |  AS bucket FROM embeddings)
            |GROUP BY bucket ORDER BY bucket""".stripMargin))

  /** Embedding-cosine near-dup: LSH buckets generate candidates, verified
    * at cosine ≥ 0.25 on the QUANTIZED vectors (integer dot/norm compare —
    * exact in both engines; random 64-dim vectors top out near 0.33) —
    * completing the dedup family with the same candidates→verify shape as
    * MinHash/SimHash. */
  /** ORACLE REGIME NOTE: the Spark side picks the hyperplane count
    * adaptively ([[Similarity.adaptiveHyperplanes]], floor 6) while
    * the static DuckDB SQL pins 6 bits — they agree exactly on every
    * corpus ≤4096 vectors (all driver test scales) and DIVERGE above,
    * where the static SQL stops being an oracle (the adaptive side
    * trades moderate-similarity recall for tractable candidates; a
    * static 6-bit side goes quadratic instead). Same note applies to
    * q_knn_graph / q_pagerank via knnEdges. */
  val dedupEmbedding = GraftQuery(
    "q_dedup_embedding",
    "embedding-cosine near-duplicate pairs (LSH candidates + verify)",
    (s, dir) => {
      // adaptive bucket count, floored at 6 (= the fixture regime the
      // oracle pins, ≤4096 vectors); see Similarity.adaptiveHyperplanes
      val bits = Similarity.adaptiveHyperplanes(embs(s, dir).count())
      val e = embs(s, dir)
        .withColumn("bucket",
          Similarity.hyperplaneBucket("embedding", bits))
        .withColumn("qe", Similarity.quantize(col("embedding")))
        .select("vec_id", "qe", "bucket")
        .localCheckpoint(true)
      e.as("a")
        .join(e.as("b"),
          col("a.bucket") === col("b.bucket") &&
            col("a.vec_id") < col("b.vec_id"))
        // τ = 0.25 ⇒ τ² = 1/16: dot ≥ 0 ∧ 16·dot² ≥ |a|²·|b|²
        .filter(Similarity.quantizedCosineAtLeast(
          col("a.qe"), col("b.qe"), num = 1L, denom = 16L))
        .select(col("a.vec_id").as("d1"), col("b.vec_id").as("d2"))
        .orderBy("d1", "d2")
    },
    Some(s"""WITH q AS (SELECT vec_id,
            |    list_transform(embedding, x ->
            |      CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe,
            |    ${Similarity.hyperplaneBucketDuckSql("embedding", 6)}
            |    AS bucket
            |  FROM embeddings)
            |SELECT d1, d2 FROM (
            |  SELECT a.vec_id AS d1, b.vec_id AS d2,
            |    list_sum(list_transform(generate_series(1, len(a.qe)),
            |      i -> a.qe[i] * b.qe[i])) AS dot,
            |    list_sum(list_transform(a.qe, x -> x * x)) AS na,
            |    list_sum(list_transform(b.qe, x -> x * x)) AS nb
            |  FROM q a JOIN q b
            |    ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
            |WHERE dot >= 0 AND dot * dot * 16 >= na * nb
            |ORDER BY d1, d2""".stripMargin))

  /** IVF ANN: integer k-means index (16 centroids, 3 Lloyd rounds over
    * QUANTIZED vectors — exact in any summation order, so the index is
    * reproducible across partitionings, retries and engines), search only
    * the 4 probe clusters nearest the query. Training is a shuffle-free
    * treeAggregate; per-row assignment is the codegen'd
    * NearestCentroidExpr; final ranking is float cosine within the probed
    * clusters (rank-only output, like q_ann_cosine_topk). Full DuckDB
    * oracle replays the same Lloyd rounds. */
  /** Probed IVF top-10 for query vec 0 — (rank, vec_id, ivf_cluster);
    * shared by q_ann_ivf and q_ann_recall. */
  private def ivfTop10(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Ivf
    val e = embs(s, dir)
      .withColumn("qe", Similarity.quantize(col("embedding")))
      .localCheckpoint(true)
    val centroids = Ivf.trainQuantized(e, "vec_id", "qe", k = 16)
    val qrow = e.filter(col("vec_id") === 0)
      .select(col("embedding"), col("qe")).head()
    val qEmb = qrow.getSeq[Float](0).toSeq
    val qQe = qrow.getSeq[Long](1).toArray
    val probes = Ivf.probeOrderQuantized(qQe, centroids).take(4)
    val top = e
      .withColumn("ivf_cluster",
        Ivf.assignQuantized(col("qe"), centroids))
      .filter(col("ivf_cluster").isin(probes.map(Integer.valueOf): _*) &&
        col("vec_id") =!= 0)
      .withColumn("sim", Similarity.cosineFast(col("embedding"),
        typedLit(qEmb).cast("array<float>")))
      .orderBy(col("sim").desc, col("vec_id")) // TakeOrderedAndProject
      .limit(10)
    graft.operators.GlobalRank.withRowNumber(
        top, Seq(col("sim").desc, col("vec_id")), rnCol = "rank",
        numPartitions = 1)
      .select(col("rank"), col("vec_id"), col("ivf_cluster"))
  }

  val annIvf = GraftQuery(
    "q_ann_ivf",
    "IVF (inverted-file) ANN: centroid index + probed search",
    (s, dir) => ivfTop10(s, dir).orderBy("rank"),
    Some(graft.functions.Ivf.ivfDuckSql("embeddings", "vec_id",
      "embedding", k = 16, iters = 3, nProbe = 4, topK = 10,
      queryId = 0L)))

  /** IVF index-health audit: per-cell population and load factor. A
    * skewed IVF cell is the quiet production killer at 100 TB — the hot
    * cell blows per-probe latency AND skews every cluster-keyed join
    * downstream (SemDeDup's within-cluster pairs are quadratic in cell
    * size, q_ann_batch's per-cluster fan-out follows the cell counts) —
    * so the balance table is the gate an index rebuild must pass before
    * it ships. load_pm is the cell's population × k normalized per
    * mille: 1000 = perfectly balanced, k·1000 = everything in one cell.
    * Training is the shared shuffle-free treeAggregate, assignment is
    * the codegen'd map-side expression; the aggregate ships k rows and
    * the load window runs over those k rows on one partition — the scan
    * itself never shuffles. Empty cells report zero via a k-row
    * generated spine (an invisible empty cell is exactly the imbalance
    * signal's dual — both engines must show it). */
  val ivfBalance = GraftQuery(
    "q_ivf_balance",
    "IVF cell-size balance audit: per-cell count + load per mille",
    (s, dir) => {
      import graft.functions.Ivf
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
        .select("vec_id", "qe")
        .localCheckpoint(true)
      val centroids = Ivf.trainQuantized(e, "vec_id", "qe", k = 16)
      val counts = e
        .withColumn("cid", Ivf.assignQuantized(col("qe"), centroids))
        .groupBy("cid").agg(count(lit(1)).as("n_vecs"))
      val spine = s.range(0, 16).select(col("id").cast("int").as("cid"))
      spine.join(counts, Seq("cid"), "left")
        .select(col("cid").as("ivf_cluster"),
          coalesce(col("n_vecs"), lit(0L)).as("n_vecs"))
        .withColumn("load_pm",
          expr("n_vecs * 16000 DIV sum(n_vecs) OVER ()"))
        .orderBy("ivf_cluster")
    },
    Some(s"""WITH ${graft.functions.Ivf.trainAssignCtes("embeddings",
               "vec_id", "embedding", k = 16, iters = 3)},
            |cnt AS (SELECT cid, count(*) AS n_vecs FROM fin GROUP BY 1)
            |SELECT CAST(s.cid AS INT) AS ivf_cluster,
            |  CAST(COALESCE(cnt.n_vecs, 0) AS BIGINT) AS n_vecs,
            |  COALESCE(cnt.n_vecs, 0) * 16000 //
            |    CAST(sum(COALESCE(cnt.n_vecs, 0)) OVER () AS BIGINT)
            |    AS load_pm
            |FROM generate_series(0, 15) AS s(cid)
            |LEFT JOIN cnt ON cnt.cid = s.cid
            |ORDER BY ivf_cluster""".stripMargin))

  /** ANN QUALITY measurement: which of the exact (brute-force) cosine
    * top-10 does the probed IVF search recover? One row per exact-top-10
    * rank with found ∈ {0,1}; sum(found)/10 is recall@10. At 100 TB this
    * is the query you run on a sampled query set before trusting an ANN
    * index — both sides are already verified queries, this one verifies
    * their RELATIONSHIP (and pins the recall floor; IvfSpec asserts ≥ 8
    * of 10 in-process). */
  val annRecall = GraftQuery(
    "q_ann_recall",
    "IVF recall@10 vs the brute-force cosine top-10",
    (s, dir) => {
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val bf = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("sim",
          Similarity.cosineFast(col("embedding"), col("q_emb")))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
      val ranked = graft.operators.GlobalRank.withRowNumber(
          bf, Seq(col("sim").desc, col("vec_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("vec_id"))
      val ivf = ivfTop10(s, dir).select(col("vec_id").as("ivf_vec_id"))
      ranked.join(broadcast(ivf), col("vec_id") === col("ivf_vec_id"),
          "left")
        .select(col("rank"), col("vec_id"),
          when(col("ivf_vec_id").isNull, 0).otherwise(1).as("found"))
        .orderBy("rank")
    },
    Some(s"""WITH bf AS (
            |  SELECT rank, vec_id FROM (
            |    SELECT ROW_NUMBER() OVER (
            |        ORDER BY list_cosine_similarity(e.embedding, q.q_emb)
            |          DESC, e.vec_id) AS rank, e.vec_id
            |    FROM embeddings e,
            |      (SELECT embedding AS q_emb FROM embeddings
            |       WHERE vec_id = 0) q
            |    WHERE e.vec_id <> 0)
            |  WHERE rank <= 10),
            |ivf AS (
            |  SELECT vec_id FROM (
            |    ${graft.functions.Ivf.ivfDuckSql("embeddings", "vec_id",
                   "embedding", k = 16, iters = 3, nProbe = 4, topK = 10,
                   queryId = 0L)}))
            |SELECT bf.rank, bf.vec_id,
            |  CAST(CASE WHEN ivf.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
            |    AS found
            |FROM bf LEFT JOIN ivf USING (vec_id)
            |ORDER BY rank""".stripMargin))

  /** Scalar-quantization quality measurement: int8 retrieval (floor(x·64)
    * — 4× less memory than the float corpus, 16× less than f32 at the
    * dims that matter; the compression that lets a 100 TB embedding
    * corpus fit a cluster's RAM) vs the 11-bit integer reference
    * retrieval (floor(x·1024), [[Similarity.quantize]]). BOTH orderings
    * are exact integer dot products with a vec_id tiebreak — zero FP
    * anywhere, so the oracle replays bit-for-bit. Per reference-top-10
    * rank: found ∈ {0,1} if int8 retrieval recovers it; Σfound/10 is the
    * quantization recall. Unit-norm corpus, |x| ≤ 1 ⇒ |dot8| ≤ 64·dims·64
    * — no overflow. */
  val annSqRecall = GraftQuery(
    "q_ann_sq_recall",
    "int8 scalar-quantization recall@10 vs 11-bit integer retrieval",
    (s, dir) => {
      def qcol(scale: Int) = transform(col("embedding"),
        x => floor(x.cast("double") * scale).cast("long"))
      // codegen'd fused loop; the HOF twin defines the oracle semantics
      def idot(a: Column, b: Column) =
        graft.functions.QuantizedExprs.intDot(a, b)
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(qcol(1024).as("q11"), qcol(64).as("q8"))
      def topBy(qe: Column, qq: Column) =
        e.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("dot", idot(qe, qq))
          .orderBy(col("dot").desc, col("vec_id"))
          .limit(10)
      val ref = graft.operators.GlobalRank.withRowNumber(
          topBy(qcol(1024), col("q11")),
          Seq(col("dot").desc, col("vec_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("vec_id"))
      val sq = topBy(qcol(64), col("q8"))
        .select(col("vec_id").as("sq_vec_id"))
      ref.join(broadcast(sq), col("vec_id") === col("sq_vec_id"), "left")
        .select(col("rank"), col("vec_id"),
          when(col("sq_vec_id").isNull, 0).otherwise(1).as("found"))
        .orderBy("rank")
    },
    Some("""WITH e AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q11,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 64) AS BIGINT)) AS q8
           |  FROM embeddings),
           |q AS (SELECT q11 AS qq11, q8 AS qq8 FROM e WHERE vec_id = 0),
           |ref AS (
           |  SELECT rank, vec_id FROM (
           |    SELECT ROW_NUMBER() OVER (ORDER BY
           |        list_sum(list_transform(generate_series(1, len(e.q11)),
           |          i -> e.q11[i] * q.qq11[i])) DESC, e.vec_id) AS rank,
           |      e.vec_id
           |    FROM e, q WHERE e.vec_id <> 0)
           |  WHERE rank <= 10),
           |sq AS (
           |  SELECT vec_id FROM (
           |    SELECT ROW_NUMBER() OVER (ORDER BY
           |        list_sum(list_transform(generate_series(1, len(e.q8)),
           |          i -> e.q8[i] * q.qq8[i])) DESC, e.vec_id) AS rank,
           |      e.vec_id
           |    FROM e, q WHERE e.vec_id <> 0)
           |  WHERE rank <= 10)
           |SELECT ref.rank, ref.vec_id,
           |  CAST(CASE WHEN sq.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
           |    AS found
           |FROM ref LEFT JOIN sq USING (vec_id)
           |ORDER BY rank""".stripMargin))

  /** Matryoshka truncated-dimension retrieval quality (MRL, Kusupati et
    * al. 2022): nested-representation embeddings let a first-pass index
    * score only the PREFIX of each vector — here the first 16 of 64
    * dims, a 4× cut in scan bandwidth and index memory, which at 100 TB
    * is the difference between an in-RAM and an on-disk index. This
    * production shape is FUNNEL retrieval (retrieve-then-re-rank): the
    * 16-dim pass shortlists 50 candidates, the full 64-dim dot re-ranks
    * only the shortlist — full vectors are touched for 50 rows however
    * big the corpus. (A plain truncated top-10 with no re-rank measures
    * 2/10 here and the funnel 5/10: random unit vectors are
    * truncation-adversarial — a prefix carries only 16/64 of the energy
    * with nothing concentrated into it by Matryoshka training — so the
    * audit's verdict on THIS corpus is correctly "unsafe", which is
    * exactly what the query is for.)
    * Per full-dimension top-10 rank: does the funnel recover it? Both
    * orderings are exact integer dot products (11-bit quantized) with a
    * vec_id tiebreak — zero FP, the oracle replays bit-for-bit. The
    * truncation is a `slice` on the already-quantized column: no second
    * quantization pass, and the sliced dot is the same fused codegen
    * loop over a shorter array. */
  val annMrlRecall = GraftQuery(
    "q_ann_mrl",
    "Matryoshka funnel (16-dim shortlist-50, 64-dim re-rank) recall@10",
    (s, dir) => {
      import graft.functions.QuantizedExprs
      val e = embs(s, dir)
        .withColumn("q11", Similarity.quantize(col("embedding")))
        .withColumn("m16", slice(col("q11"), 1, 16))
      val q = e.filter(col("vec_id") === 0)
        .select(col("q11").as("qq11"), col("m16").as("qm16"))
      def topBy(base: DataFrame, qe: Column, qq: Column, k: Int) =
        base.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .withColumn("dot", QuantizedExprs.intDot(qe, qq))
          .orderBy(col("dot").desc, col("vec_id")) // TakeOrderedAndProject
          .limit(k)
      val ref = graft.operators.GlobalRank.withRowNumber(
          topBy(e, col("q11"), col("qq11"), 10),
          Seq(col("dot").desc, col("vec_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("vec_id"))
      val shortlist = topBy(e, col("m16"), col("qm16"), 50)
        .select("vec_id", "q11")
      val mrl = topBy(shortlist, col("q11"), col("qq11"), 10)
        .select(col("vec_id").as("mrl_vec_id"))
      ref.join(broadcast(mrl), col("vec_id") === col("mrl_vec_id"),
          "left")
        .select(col("rank"), col("vec_id"),
          when(col("mrl_vec_id").isNull, 0).otherwise(1).as("found"))
        .orderBy("rank")
    },
    Some("""WITH e AS (
           |  SELECT vec_id,
           |    list_transform(embedding, x ->
           |      CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS q11
           |  FROM embeddings),
           |q AS (SELECT q11 AS qq11 FROM e WHERE vec_id = 0),
           |ref AS (
           |  SELECT rank, vec_id FROM (
           |    SELECT ROW_NUMBER() OVER (ORDER BY
           |        list_sum(list_transform(generate_series(1, len(e.q11)),
           |          i -> e.q11[i] * q.qq11[i])) DESC, e.vec_id) AS rank,
           |      e.vec_id
           |    FROM e, q WHERE e.vec_id <> 0)
           |  WHERE rank <= 10),
           |shortlist AS (
           |  SELECT vec_id FROM (
           |    SELECT ROW_NUMBER() OVER (ORDER BY
           |        list_sum(list_transform(generate_series(1, 16),
           |          i -> e.q11[i] * q.qq11[i])) DESC, e.vec_id) AS rank,
           |      e.vec_id
           |    FROM e, q WHERE e.vec_id <> 0)
           |  WHERE rank <= 50),
           |mrl AS (
           |  SELECT vec_id FROM (
           |    SELECT ROW_NUMBER() OVER (ORDER BY
           |        list_sum(list_transform(generate_series(1, len(e.q11)),
           |          i -> e.q11[i] * q.qq11[i])) DESC, e.vec_id) AS rank,
           |      e.vec_id
           |    FROM e JOIN shortlist USING (vec_id), q)
           |  WHERE rank <= 10)
           |SELECT ref.rank, ref.vec_id,
           |  CAST(CASE WHEN mrl.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
           |    AS found
           |FROM ref LEFT JOIN mrl USING (vec_id)
           |ORDER BY rank""".stripMargin))

  /** Product-quantization retrieval with exact re-ranking (the IVFADC+R
    * architecture, Jégou et al. 2011): train an 8-subspace × 16-centroid
    * PQ codebook (integer Lloyd rounds per subspace — 64-dim vectors
    * compress 64× to 4 bytes of codes), score the corpus with the
    * query's precomputed ADC table (8 codegen'd nearest-centroid
    * assignments + 8 literal-array lookups per row, no full-vector
    * arithmetic), shortlist the ADC top-50, then re-rank the shortlist
    * EXACTLY — at 100 TB the ADC pass is the only full scan and touches
    * 4-byte codes instead of 256-byte vectors; exact arithmetic runs on
    * 50 rows. Recall@10 vs the 11-bit integer-dot reference. Every step
    * — codebooks, codes, ADC sums, both orderings — is integer with
    * deterministic tiebreaks, so the DuckDB oracle replays the whole
    * pipeline bit-for-bit. (Plain ADC top-10 with no re-rank measured
    * 2/10 here: random unit vectors are PQ-adversarial, which is exactly
    * why the production shape re-ranks a shortlist.) */
  val annPqRecall = GraftQuery(
    "q_ann_pq_recall",
    "PQ (8×16, ADC top-50 + exact re-rank) recall@10",
    (s, dir) => {
      import graft.functions.{Pq, QuantizedExprs}
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
        .select("vec_id", "qe")
        .localCheckpoint(true)
      val books = Pq.trainSubspaces(e, "vec_id", "qe", m = 8, dsub = 8,
        k = 16)
      val qArr = e.filter(col("vec_id") === 0)
        .select("qe").head().getSeq[Long](0).toArray
      val adc = Pq.adcTables(qArr, books, dsub = 8)
      val q = e.filter(col("vec_id") === 0).select(col("qe").as("q_qe"))
      val shortlist = e.filter(col("vec_id") =!= 0)
        .withColumn("d", Pq.adcDistance(col("qe"), books, adc, dsub = 8))
        .orderBy(col("d").asc, col("vec_id")) // TakeOrderedAndProject
        .limit(50)
      val pq = shortlist
        .crossJoin(broadcast(q))
        .withColumn("rdot", QuantizedExprs.intDot(col("qe"), col("q_qe")))
        .orderBy(col("rdot").desc, col("vec_id"))
        .limit(10)
        .select(col("vec_id").as("pq_vec_id"))
      val ref0 = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("dot", QuantizedExprs.intDot(col("qe"), col("q_qe")))
        .orderBy(col("dot").desc, col("vec_id"))
        .limit(10)
      val ref = graft.operators.GlobalRank.withRowNumber(
          ref0, Seq(col("dot").desc, col("vec_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("vec_id"))
      ref.join(broadcast(pq), col("vec_id") === col("pq_vec_id"), "left")
        .select(col("rank"), col("vec_id"),
          when(col("pq_vec_id").isNull, 0).otherwise(1).as("found"))
        .orderBy("rank")
    },
    Some(s"""WITH eo AS (
            |  SELECT vec_id,
            |    list_transform(embedding, x ->
            |      CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe
            |  FROM embeddings),
            |qv AS (SELECT qe AS q_qe FROM eo WHERE vec_id = 0),
            |ref AS (
            |  SELECT rank, vec_id FROM (
            |    SELECT ROW_NUMBER() OVER (ORDER BY
            |        list_sum(list_transform(generate_series(1, len(e.qe)),
            |          i -> e.qe[i] * q.q_qe[i])) DESC, e.vec_id) AS rank,
            |      e.vec_id
            |    FROM eo e, qv q WHERE e.vec_id <> 0)
            |  WHERE rank <= 10),
            |shortlist AS (
            |  ${graft.functions.Pq.pqDuckSql("embeddings", "vec_id",
                 "embedding", m = 8, dsub = 8, k = 16, iters = 3,
                 topK = 50, queryId = 0L)}
            |),
            |pq AS (
            |  SELECT vec_id FROM (
            |    SELECT ROW_NUMBER() OVER (ORDER BY
            |        list_sum(list_transform(generate_series(1, len(e.qe)),
            |          i -> e.qe[i] * q.q_qe[i])) DESC, e.vec_id) AS rank,
            |      e.vec_id
            |    FROM eo e JOIN shortlist USING (vec_id), qv q)
            |  WHERE rank <= 10)
            |SELECT ref.rank, ref.vec_id,
            |  CAST(CASE WHEN pq.vec_id IS NULL THEN 0 ELSE 1 END AS INT)
            |    AS found
            |FROM ref LEFT JOIN pq USING (vec_id)
            |ORDER BY rank""".stripMargin))

  /** IVF+PQ (the FAISS IVFPQ composite, Jégou et al. 2011): a coarse
    * IVF quantizer prunes the search to the probed clusters, PQ ADC
    * scores ONLY those candidates (m table lookups per row, never the
    * full vector), and the exact integer-dot re-rank runs over the
    * 50-row shortlist. At 100 TB this is the production ANN shape: the
    * coarse filter cuts the scan to nProbe/k of the corpus, the scan
    * reads only (id, cluster, 8 PQ codes) — not the embedding — and
    * full vectors are touched for 50 rows. Trained structures are
    * driver-side arrays riding the codegen'd [[NearestCentroidExpr]];
    * the oracle replays both trainings CTE-for-CTE and applies the same
    * probe restriction via [[Pq.pqDuckSql]]'s `restrict` hook. */
  val annIvfPq = GraftQuery(
    "q_ann_ivf_pq",
    "IVF coarse probe + PQ ADC shortlist + exact re-rank top-10",
    (s, dir) => {
      import graft.functions.{Ivf, Pq, QuantizedExprs}
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
        .select("vec_id", "qe")
        .localCheckpoint(true)
      val coarse = Ivf.trainQuantized(e, "vec_id", "qe", k = 16)
      val books = Pq.trainSubspaces(e, "vec_id", "qe", m = 8, dsub = 8,
        k = 16)
      val qQe = e.filter(col("vec_id") === 0)
        .select("qe").head().getSeq[Long](0).toArray
      val probes = Ivf.probeOrderQuantized(qQe, coarse).take(4)
      val adc = Pq.adcTables(qQe, books, dsub = 8)
      val q = e.filter(col("vec_id") === 0).select(col("qe").as("q_qe"))
      val shortlist = e.filter(col("vec_id") =!= 0)
        .withColumn("ivf_cluster",
          Ivf.assignQuantized(col("qe"), coarse))
        .filter(col("ivf_cluster")
          .isin(probes.map(Integer.valueOf): _*))
        .withColumn("d", Pq.adcDistance(col("qe"), books, adc, dsub = 8))
        .orderBy(col("d").asc, col("vec_id")) // TakeOrderedAndProject
        .limit(50)
      val top = shortlist
        .crossJoin(broadcast(q))
        .withColumn("rdot", QuantizedExprs.intDot(col("qe"), col("q_qe")))
        .orderBy(col("rdot").desc, col("vec_id"))
        .limit(10)
      graft.operators.GlobalRank.withRowNumber(
          top, Seq(col("rdot").desc, col("vec_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("vec_id"), col("ivf_cluster"))
    },
    Some(s"""WITH eo AS (
            |  SELECT vec_id,
            |    list_transform(embedding, x ->
            |      CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe
            |  FROM embeddings),
            |qv AS (SELECT qe AS q_qe FROM eo WHERE vec_id = 0),
            |coarse AS (
            |  WITH ${graft.functions.Ivf.trainAssignCtes("embeddings",
                 "vec_id", "embedding", k = 16, iters = 3)},
            |  q AS (SELECT qe AS qqe FROM e WHERE vec_id = 0),
            |  probes AS (
            |    SELECT cid FROM c3, q
            |    ORDER BY ${graft.functions.Ivf.l2Sql("c", "qqe")}, cid
            |    LIMIT 4)
            |  SELECT f.vec_id, CAST(f.cid AS INT) AS ivf_cluster
            |  FROM fin f
            |  WHERE f.cid IN (SELECT cid FROM probes) AND f.vec_id <> 0),
            |shortlist AS (
            |  ${graft.functions.Pq.pqDuckSql("embeddings", "vec_id",
                 "embedding", m = 8, dsub = 8, k = 16, iters = 3,
                 topK = 50, queryId = 0L, restrict = Some("coarse"))}
            |)
            |SELECT rank, vec_id, ivf_cluster FROM (
            |  SELECT ROW_NUMBER() OVER (ORDER BY
            |      list_sum(list_transform(generate_series(1, len(e.qe)),
            |        i -> e.qe[i] * q.q_qe[i])) DESC, e.vec_id) AS rank,
            |    e.vec_id, c.ivf_cluster
            |  FROM eo e JOIN shortlist USING (vec_id)
            |    JOIN coarse c USING (vec_id), qv q)
            |WHERE rank <= 10 ORDER BY rank""".stripMargin))

  // ------------------------------------------------------- multimodal

  /** Multimodal column plumbing: opaque binary payload + typed metadata —
    * byte length, content digest, modality tag, fake frame count. The
    * decode itself is stubbed (no media libs in-container); the schema,
    * partition-independence and batch shape are the real, tested parts. */
  val multimodalMeta = GraftQuery(
    "q_multimodal_meta",
    "binary multimodal payload metadata extraction",
    (s, dir) => docs(s, dir)
      .withColumn("payload", encode(col("text"), "UTF-8"))
      .select(col("doc_id"),
        octet_length(col("payload")).as("byte_len"),
        sha2(col("payload"), 256).as("digest"),
        when(col("doc_id") % 3 === 0, "image")
          .when(col("doc_id") % 3 === 1, "audio")
          .otherwise("video").as("modality"),
        (octet_length(col("payload")).cast("bigint") / lit(1024))
          .cast("bigint").as("frames"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  octet_length(encode(text)) AS byte_len,
           |  sha256(text) AS digest,
           |  CASE WHEN doc_id % 3 = 0 THEN 'image'
           |       WHEN doc_id % 3 = 1 THEN 'audio'
           |       ELSE 'video' END AS modality,
           |  CAST(octet_length(encode(text)) // 1024 AS BIGINT) AS frames
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** Deterministic stratified sampling — the training-mix op: per-language
    * keep rates gated by a portable content-independent hash of the doc id
    * (en 30%, de 60%, tail 10%). Pure codegen'd filter on the scan: no
    * shuffle, no RNG state, reproducible at any parallelism — rerunning
    * the pipeline (or any engine) selects the identical sample. */
  val sampleStratified = GraftQuery(
    "q_sample_stratified",
    "hash-gated stratified sampling by language (no shuffle, no RNG)",
    (s, dir) => docs(s, dir)
      .withColumn("gate",
        expr(s"${TF.hash60Sql("CAST(doc_id AS STRING)")} % 100"))
      .filter(
        when(col("lang") === "en", col("gate") < 30)
          .when(col("lang") === "de", col("gate") < 60)
          .otherwise(col("gate") < 10))
      .select("doc_id", "lang", "gate")
      .orderBy("doc_id"),
    Some(s"""SELECT doc_id, lang, gate FROM (
            |  SELECT doc_id, lang,
            |    ${TF.hash60DuckSql("CAST(doc_id AS VARCHAR)")} % 100
            |      AS gate
            |  FROM documents)
            |WHERE (lang = 'en' AND gate < 30)
            |   OR (lang = 'de' AND gate < 60)
            |   OR (lang NOT IN ('en', 'de') AND gate < 10)
            |ORDER BY doc_id""".stripMargin))

  /** Corpus-level n-gram statistics: top-25 bigrams by frequency. The
    * scale shape is explode → hash aggregate (map-side partials bound the
    * shuffle at distinct-bigrams per partition) → TakeOrdered top-k; ties
    * broken on the bigram text so the cut is deterministic. */
  val ngramTopk = GraftQuery(
    "q_ngram_topk",
    "top-25 corpus bigrams (explode + partial-agg + top-k)",
    (s, dir) => docs(s, dir)
      .select(explode(graft.functions.SignatureExprs.wordShingles(
        TF.words(col("text")), 2)).as("bg"))
      .groupBy("bg").agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("bg"))
      .limit(25),
    Some("""SELECT bg, freq FROM (
           |  SELECT bg, count(*) AS freq FROM (
           |    SELECT unnest(list_transform(
           |        generate_series(1, len(ws) - 1),
           |        i -> ws[i] || ' ' || ws[i+1])) AS bg
           |    FROM (SELECT string_split(text, ' ') AS ws FROM documents))
           |  GROUP BY bg)
           |ORDER BY freq DESC, bg LIMIT 25""".stripMargin))

  /** Document length histogram in fixed 200-char bins — the corpus-shape
    * profile a mix designer reads before setting packing/truncation
    * budgets. Pure scan-side bucketing + tiny aggregate. */
  val docLenHist = GraftQuery(
    "q_doc_len_hist",
    "document length histogram (fixed 200-char bins)",
    (s, dir) => docs(s, dir)
      .select(expr("CAST(length(text) DIV 200 AS INT)").as("bin"))
      .groupBy("bin")
      .agg(count(lit(1)).as("docs"))
      .orderBy("bin"),
    Some("""SELECT CAST(length(text) // 200 AS INT) AS bin,
           |  count(*) AS docs
           |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Multimodal processing PLAN: resize targets and frame-sample indices
    * computed from metadata alone (no payload decode) — the pruning step
    * a 100 TB media pipeline runs before paying for any decoder time.
    * Integer-only arithmetic → exact oracle. */
  val multimodalPlan = GraftQuery(
    "q_multimodal_plan",
    "multimodal resize + frame-sample planning from metadata",
    (s, dir) => {
      import graft.functions.Multimodal
      docs(s, dir)
        .withColumn("byte_len", length(col("text")).cast("bigint"))
        .withColumn("w", expr("64 + byte_len % 1920"))
        .withColumn("h", expr("64 + (byte_len DIV 7) % 1080"))
        .withColumn("frames", expr("1 + byte_len % 600"))
        .withColumn("fit", Multimodal.resizePlan("w", "h", 336, 336))
        .withColumn("idx", Multimodal.frameSampleIndices("frames", 8))
        .select(col("doc_id"), col("w"), col("h"),
          col("fit.fit_w"), col("fit.fit_h"),
          size(col("idx")).cast("bigint").as("n_sampled"),
          expr("CAST(aggregate(idx, 0L, (a, x) -> a + x) AS BIGINT)")
            .as("idx_sum"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, w, h,
           |  CASE WHEN w * 336 <= h * 336
           |    THEN CAST((w * least(336, h)) // h AS INT)
           |    ELSE CAST(least(336, w) AS INT) END AS fit_w,
           |  CASE WHEN w * 336 <= h * 336
           |    THEN CAST(least(336, h) AS INT)
           |    ELSE CAST((h * least(336, w)) // w AS INT) END AS fit_h,
           |  CAST(least(8, frames) AS BIGINT) AS n_sampled,
           |  CAST(list_sum(list_transform(
           |      generate_series(0, CAST(least(8, frames) AS INT) - 1),
           |      i -> (CAST(i AS BIGINT) * frames)
           |             // least(8, frames))) AS BIGINT) AS idx_sum
           |FROM (SELECT doc_id,
           |        64 + length(text) % 1920 AS w,
           |        64 + (length(text) // 7) % 1080 AS h,
           |        1 + length(text) % 600 AS frames
           |      FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Benchmark decontamination: drop training docs whose content
    * fingerprint appears in a benchmark suite — the left-ANTI join every
    * training pipeline runs before a data release. The benchmark set is
    * tiny → broadcast: at 100 TB the corpus streams map-side against the
    * fingerprint set, no shuffle of the corpus at all. (Benchmark stands
    * in as every 97th doc's fingerprint — deterministic, engine-equal.) */
  val decontaminate = GraftQuery(
    "q_decontaminate",
    "benchmark-overlap removal (broadcast anti-join on fingerprints)",
    (s, dir) => {
      val fp = docs(s, dir).select(col("doc_id"),
        TF.fingerprint(TF.words(col("text"))).as("fp"))
      val benchmark = fp.filter(col("doc_id") % 97 === 0).select("fp")
      fp.join(broadcast(benchmark), Seq("fp"), "left_anti")
        .select("doc_id", "fp")
        .orderBy("doc_id")
    },
    Some(s"""WITH fp AS (SELECT doc_id,
            |    ${TF.fingerprintDuckSql("string_split(text, ' ')")} AS fp
            |  FROM documents)
            |SELECT doc_id, fp FROM fp
            |WHERE fp NOT IN (SELECT fp FROM fp WHERE doc_id % 97 = 0)
            |ORDER BY doc_id""".stripMargin))

  /** Sliding n-gram contamination audit (the GPT-3/PaLM 13-gram standard):
    * a training doc is contaminated if ANY of its 13-word windows appears
    * verbatim in the benchmark suite — catches partial-quote leakage the
    * whole-document fingerprint of [[decontaminate]] misses. Benchmark
    * grams hash into a 60-bit portable domain and form a tiny distinct
    * set → broadcast semi-join: the corpus explodes its windows map-side
    * and only hit rows reach the one doc-keyed aggregate. At 100 TB the
    * window explosion is linear in corpus tokens (the same cost every
    * n-gram op here pays) and the benchmark set stays driver-small by
    * construction. Output is per-doc hit counts + per-mille rate —
    * all-integer. (Benchmark = every 97th doc, deterministic.) */
  val contaminationNgram = GraftQuery(
    "q_contamination_ngram",
    "13-gram sliding-window benchmark contamination audit",
    (s, dir) => {
      val n = 13
      // NOT spread: same measured verdict as q_dedup_substring — the
      // widening exchange regressed this query 1.6x vs ~1.1x window
      // controls; the explode's md5 pass is cheaper than the extra
      // exchange + wide-checkpoint reads
      val grams = docs(s, dir)
        .select(col("doc_id"), TF.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= n)
        .select(col("doc_id"),
          explode(array_distinct(graft.functions.SignatureExprs
            .wordShingles(col("ws"), n))).as("g"))
        .select(col("doc_id"), expr(TF.hash60Sql("g")).as("h"))
        .localCheckpoint(true)
      val bench = grams.filter(col("doc_id") % 97 === 0)
        .select("h").distinct()
      val train = grams.filter(col("doc_id") % 97 =!= 0)
      val tot = train.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
      val hit = train.join(broadcast(bench), Seq("h"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_hit"))
      // LEFT join, not inner: every train doc emits a row (n_hit = 0 when
      // clean), so a clean corpus yields a full-size result — a broken
      // pipeline that returns an empty frame can no longer masquerade as
      // "no contamination found". Self-validating output.
      tot.join(hit, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_grams"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          expr("coalesce(n_hit, 0L) * 1000 DIV n_grams").as("hit_pm"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
            |           FROM documents),
            |g0 AS (SELECT doc_id, unnest(list_distinct(list_transform(
            |         generate_series(1, len(w) - 12),
            |         i -> array_to_string(w[i:i+12], ' ')))) AS g
            |       FROM ws WHERE len(w) >= 13),
            |g AS (SELECT doc_id, ${TF.hash60DuckSql("g")} AS h FROM g0),
            |b AS (SELECT DISTINCT h FROM g WHERE doc_id % 97 = 0),
            |t AS (SELECT doc_id, h FROM g WHERE doc_id % 97 <> 0),
            |tot AS (SELECT doc_id, count(*) AS n_grams FROM t GROUP BY 1),
            |hit AS (SELECT doc_id, count(*) AS n_hit FROM t
            |        WHERE h IN (SELECT h FROM b) GROUP BY 1)
            |SELECT doc_id, n_grams,
            |  coalesce(n_hit, CAST(0 AS BIGINT)) AS n_hit,
            |  coalesce(n_hit, CAST(0 AS BIGINT)) * 1000 // n_grams AS hit_pm
            |FROM tot LEFT JOIN hit USING (doc_id)
            |ORDER BY doc_id""".stripMargin))

  /** Embedding-space decontamination — the SEMANTIC flavor of the
    * benchmark-overlap audit (q_decontaminate is exact doc-hash,
    * q_contamination_ngram is 13-gram surface overlap; paraphrased or
    * reformatted eval leakage evades both, which is why modern decks
    * audit in embedding space too). The benchmark set (vec_id % 50 = 0
    * stands in for "the eval suite's embeddings") is SMALL BY
    * CONSTRUCTION — benchmarks are thousands of rows, not billions — so
    * it collects to the driver and rides a codegen'd
    * [[NearestCentroidExpr]] as the "centroid" matrix: every corpus
    * vector gets its L2-nearest benchmark vector assigned map-side at
    * scan speed, ZERO shuffle over the corpus, and only a |eval|-row
    * broadcast join recovers the matched benchmark's vector for the
    * cosine gate. (A large eval set would use the IVF probe path of
    * q_ann_ivf instead.) Semantics: nearest benchmark by integer L2
    * over 11-bit quantized vectors (ties to the lowest eval_id — the
    * matrix is eval_id-ordered and nearestIdx ties low), then flag
    * contaminated when cosine ≥ 0.25 against THAT neighbor via the
    * all-integer predicate dot ≥ 0 ∧ 16·dot² ≥ |a|²·|b|². Every train
    * vector emits a row — self-validating on a clean corpus. */
  val contaminationSemantic = GraftQuery(
    "q_contamination_semantic",
    "embedding-cosine decontamination vs a broadcast benchmark set",
    (s, dir) => {
      import graft.functions.{Ivf, QuantizedExprs}
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
      // driver-side collect of the benchmark embedding set — bounded
      // LOUDLY, not by assumption: the fixture selects vec_id % 50, so
      // the collected side scales with the corpus; real eval suites
      // are fixed-size. The guard COUNTS BEFORE COLLECTING (a guard
      // after collect would OOM inside the collect it exists to
      // prevent), failing with the scale path named.
      val evalFrame = e.filter(col("vec_id") % 50 === 0)
        .select("vec_id", "qe")
      val evalCount = evalFrame.count()
      require(evalCount <= 100000,
        s"benchmark set ($evalCount rows) too large for the " +
          "broadcast-matrix path — route large eval suites through " +
          "the IVF probe path (q_ann_ivf) instead")
      val evals = evalFrame.collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
        .sortBy(_._1)
      val evalDf = {
        import s.implicits._
        // |eval|² precomputed driver-side into the broadcast row — a
        // per-corpus-row 64-mult loop re-deriving a benchmark constant
        // is pure waste at scale
        evals.zipWithIndex
          .map { case ((id, qe), i) =>
            (i, id, qe.toSeq, qe.map(x => x * x).sum) }.toSeq
          .toDF("best_idx", "best_eval", "eval_qe", "nb")
      }
      e.filter(col("vec_id") % 50 =!= 0)
        .withColumn("best_idx",
          Ivf.assignQuantized(col("qe"), evals.map(_._2)))
        .join(broadcast(evalDf), "best_idx")
        .withColumn("dot", QuantizedExprs.intDot(col("qe"), col("eval_qe")))
        .withColumn("na", QuantizedExprs.intDot(col("qe"), col("qe")))
        .select(col("vec_id"), col("best_eval"),
          (col("na") + col("nb") - lit(2L) * col("dot")).as("d2"),
          when(col("dot") >= 0 &&
              lit(16L) * col("dot") * col("dot") >= col("na") * col("nb"),
            1).otherwise(0).as("contaminated"))
        .orderBy("vec_id")
    },
    Some(s"""WITH e AS (
            |  SELECT vec_id,
            |    list_transform(embedding, x ->
            |      CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)) AS qe
            |  FROM embeddings),
            |ev AS (SELECT vec_id AS eval_id, qe AS eqe FROM e
            |       WHERE vec_id % 50 = 0),
            |scored AS (
            |  SELECT tr.vec_id, ev.eval_id,
            |    ${graft.functions.Ivf.l2Sql("tr.qe", "ev.eqe")} AS d2,
            |    list_sum(list_transform(generate_series(1, len(tr.qe)),
            |      i -> tr.qe[i] * ev.eqe[i])) AS dot,
            |    list_sum(list_transform(tr.qe, x -> x * x)) AS na,
            |    list_sum(list_transform(ev.eqe, x -> x * x)) AS nb
            |  FROM e tr, ev WHERE tr.vec_id % 50 <> 0),
            |best AS (
            |  SELECT * FROM (
            |    SELECT *, row_number() OVER (PARTITION BY vec_id
            |      ORDER BY d2, eval_id) AS rn
            |    FROM scored) WHERE rn = 1)
            |SELECT vec_id, eval_id AS best_eval,
            |  CAST(d2 AS BIGINT) AS d2,
            |  CAST(CASE WHEN dot >= 0 AND 16 * dot * dot >= na * nb
            |    THEN 1 ELSE 0 END AS INT) AS contaminated
            |FROM best ORDER BY vec_id""".stripMargin))

  /** Exact duplicated-substring audit — the suffix-array dedup of
    * "Deduplicating Training Data Makes Language Models Better" (Lee et
    * al. 2022) restated relationally: a token span is duplicated when
    * its W-token window (stride 1) hashes to a value appearing at ≥2
    * corpus positions; per doc, overlapping/adjacent duplicated windows
    * merge into maximal islands (gaps-and-islands over a running-max
    * window) and the duplicated token mass reports as a per-mille rate.
    * Every doc emits a row (dup_tokens = 0 when clean) —
    * self-validating output. Scale: one stride-1 window explode (linear
    * in corpus tokens — the cost every n-gram op here pays), one hash
    * groupBy, one semi-join back, one per-doc window; no pairwise
    * anything, and the island merge only ever touches DUPLICATED
    * windows. */
  val dedupSubstring = GraftQuery(
    "q_dedup_substring",
    "exact duplicated-substring spans (suffix-array dedup, relational)",
    (s, dir) => {
      val W = 25
      // NOT spread: measured (r15 final pair vs ~1.1x window controls)
      // — widening the scan before the window explode regressed 1.9x;
      // the exchange + 32-block checkpoint + wider consumer scans cost
      // more than the single-task md5 pass they replace at this scale,
      // and at real scale the scan is already wide
      val ws = docs(s, dir)
        .select(col("doc_id"), TF.words(col("text")).as("ws"))
      val base = ws.select(col("doc_id"),
        size(col("ws")).cast("long").as("n_tokens"))
      val wins = ws.filter(size(col("ws")) >= W)
        .select(col("doc_id"),
          posexplode(graft.functions.SignatureExprs
            .wordShingles(col("ws"), W)).as(Seq("p", "g")))
        .select(col("doc_id"), col("p"),
          expr(TF.hash60Sql("g")).as("h"))
        .localCheckpoint(true) // read twice: dup-hash set + semi-join back
      val duph = wins.groupBy("h").agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).select("h")
      val d = wins.join(duph, Seq("h"), "left_semi")
        .select(col("doc_id"), col("p"), (col("p") + (W - 1)).as("e"))
      val wPrev = Window.partitionBy("doc_id").orderBy("p")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wRun = Window.partitionBy("doc_id").orderBy("p")
      val dup = d
        .withColumn("ni", when(
          col("p") > coalesce(max(col("e")).over(wPrev), lit(-2)) + 1,
          1).otherwise(0))
        .withColumn("isl", sum(col("ni")).over(wRun))
        .groupBy("doc_id", "isl")
        .agg((max(col("e")) - min(col("p")) + 1).cast("long").as("span"))
        .groupBy("doc_id").agg(sum("span").as("dup_tokens"))
      base.join(dup, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_tokens"),
          coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
          expr("coalesce(dup_tokens, 0L) * 1000" +
            " DIV greatest(n_tokens, CAST(1 AS BIGINT))").as("dup_pm"))
        .orderBy("doc_id")
    },
    Some(s"""WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w
            |           FROM documents),
            |base AS (SELECT doc_id, len(w) AS n_tokens FROM ws),
            |g AS (SELECT doc_id,
            |        unnest(range(1, len(w) - 23)) - 1 AS p,
            |        unnest(list_transform(range(1, len(w) - 23),
            |          i -> ${TF.hash60DuckSql(
                       "array_to_string(w[i:i+24], ' ')")})) AS h
            |      FROM ws WHERE len(w) >= 25),
            |duph AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
            |d AS (SELECT doc_id, p, p + 24 AS e
            |      FROM g JOIN duph USING (h)),
            |i1 AS (SELECT doc_id, p, e,
            |  CASE WHEN p > coalesce(max(e) OVER (PARTITION BY doc_id
            |      ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND
            |      1 PRECEDING), -2) + 1 THEN 1 ELSE 0 END AS ni FROM d),
            |i2 AS (SELECT doc_id, p, e, sum(ni) OVER (
            |  PARTITION BY doc_id ORDER BY p) AS isl FROM i1),
            |sp AS (SELECT doc_id, isl, max(e) - min(p) + 1 AS span
            |       FROM i2 GROUP BY 1, 2),
            |dup AS (SELECT doc_id, sum(span) AS dup_tokens
            |        FROM sp GROUP BY 1)
            |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
            |  CAST(coalesce(dup_tokens, 0) AS BIGINT) AS dup_tokens,
            |  CAST(coalesce(dup_tokens, 0) * 1000
            |    // greatest(n_tokens, 1) AS BIGINT) AS dup_pm
            |FROM base LEFT JOIN dup USING (doc_id)
            |ORDER BY doc_id""".stripMargin))

  /** Sequence packing plan: assign docs to fixed token-budget packs by
    * cumulative offset within a shard (pack = start-offset DIV budget) —
    * the document-granular packing layout computed relationally. Packing
    * is per-shard (doc_id mod 8) exactly as it is per-worker in a real
    * pipeline, so the running-sum window partitions by a scalable key
    * instead of one global order. */
  val packSequences = GraftQuery(
    "q_pack_sequences",
    "token-budget sequence packing plan (per-shard running offsets)",
    (s, dir) => docs(s, dir)
      .select(col("doc_id"), expr("doc_id % 8").as("shard"),
        size(TF.words(col("text"))).cast("bigint").as("tokens"))
      .withColumn("cum", sum("tokens").over(
        Window.partitionBy("shard").orderBy("doc_id")
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("pack", expr("(cum - tokens) DIV 2048"))
      .groupBy("shard", "pack")
      .agg(count(lit(1)).as("n_docs"), sum("tokens").as("pack_tokens"))
      .orderBy("shard", "pack"),
    Some("""SELECT shard, pack, count(*) AS n_docs,
           |  CAST(sum(tokens) AS BIGINT) AS pack_tokens
           |FROM (SELECT shard, (cum - tokens) // 2048 AS pack, tokens
           |  FROM (SELECT doc_id % 8 AS shard,
           |          CAST(len(string_split(text, ' ')) AS BIGINT)
           |            AS tokens,
           |          CAST(sum(len(string_split(text, ' ')))
           |              OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
           |                ROWS BETWEEN UNBOUNDED PRECEDING AND
           |                  CURRENT ROW) AS BIGINT) AS cum
           |        FROM documents))
           |GROUP BY shard, pack ORDER BY shard, pack""".stripMargin))

  /** Multi-probe hyperplane-LSH search: candidates come from the query's
    * bucket plus its 6 one-bit-flip neighbors (the standard multi-probe
    * recall lever — a vector near a hyperplane lands one sign-bit away),
    * then float-cosine top-10 within candidates. Bucket membership is an
    * integer equi-semi-join against 7 literal bucket ids: the corpus
    * never shuffles, the probe set is driver-side. Rank-only output. */
  val annLshSearch = GraftQuery(
    "q_ann_lsh_search",
    "multi-probe LSH ANN search (bucket + 1-bit neighbors, cosine top-10)",
    (s, dir) => {
      val e = embs(s, dir)
        .withColumn("bucket", Similarity.hyperplaneBucket("embedding", 6))
        .localCheckpoint(true)
      val qrow = e.filter(col("vec_id") === 0)
        .select(col("embedding"), col("bucket")).head()
      val qEmb = qrow.getSeq[Float](0).toSeq
      val qBucket = qrow.getLong(1)
      val probes = qBucket +: (0 until 6).map(b => qBucket ^ (1L << b))
      val top = e
        .filter(col("bucket").isin(probes.map(java.lang.Long.valueOf): _*)
          && col("vec_id") =!= 0)
        .withColumn("sim", Similarity.cosineFast(col("embedding"),
          typedLit(qEmb).cast("array<float>")))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(10)
      graft.operators.GlobalRank.withRowNumber(
          top, Seq(col("sim").desc, col("vec_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("vec_id"), col("bucket"))
        .orderBy("rank")
    },
    Some(s"""WITH b AS (SELECT vec_id, embedding,
            |    ${Similarity.hyperplaneBucketDuckSql("embedding", 6)}
            |    AS bucket
            |  FROM embeddings),
            |q AS (SELECT embedding AS qemb, bucket AS qb FROM b
            |      WHERE vec_id = 0),
            |probes AS (
            |  SELECT qb AS p FROM q
            |  UNION ALL
            |  SELECT xor(qb, 1 << h) FROM q,
            |    (SELECT unnest(generate_series(0, 5)) AS h))
            |SELECT rank, vec_id, bucket FROM (
            |  SELECT ROW_NUMBER() OVER (
            |      ORDER BY list_cosine_similarity(b.embedding, q.qemb)
            |        DESC, b.vec_id) AS rank,
            |    b.vec_id, b.bucket
            |  FROM b, q
            |  WHERE b.bucket IN (SELECT p FROM probes)
            |    AND b.vec_id <> 0)
            |WHERE rank <= 10 ORDER BY rank""".stripMargin))

  /** Text normalization pass (the cleaning stage ahead of tokenization):
    * punctuation strip, whitespace collapse, lowercase, trim. Patterns
    * are literal character classes only — the subset where Java regex
    * (Spark) and RE2-ish (DuckDB) semantics provably agree. Output is
    * the cleaned text's digest + length (row-size-stable compare). */
  val textClean = GraftQuery(
    "q_text_clean",
    "text cleaning: punct strip + whitespace collapse + lowercase",
    (s, dir) => docs(s, dir)
      .withColumn("cleaned", trim(regexp_replace(regexp_replace(
        lower(col("text")), "[.,!?;:'\"]", ""), " +", " ")))
      .select(col("doc_id"),
        length(col("cleaned")).cast("bigint").as("clean_len"),
        md5(col("cleaned")).as("clean_md5"))
      .orderBy("doc_id"),
    Some("""SELECT doc_id,
           |  CAST(length(cleaned) AS BIGINT) AS clean_len,
           |  md5(cleaned) AS clean_md5
           |FROM (SELECT doc_id, trim(regexp_replace(regexp_replace(
           |    lower(text), '[.,!?;:''"]', '', 'g'), ' +', ' ', 'g'))
           |    AS cleaned
           |  FROM documents)
           |ORDER BY doc_id""".stripMargin))

  /** Embedding-space profile: histogram of quantized squared norms —
    * the vector-quality scan (zero/degenerate/outlier vectors) a pipeline
    * runs before indexing. Integer arithmetic end-to-end. */
  val embStats = GraftQuery(
    "q_emb_stats",
    "embedding norm profile (quantized squared-norm histogram)",
    (s, dir) => embs(s, dir)
      .select(Similarity.quantize(col("embedding")).as("qe"))
      .select(expr(
        "aggregate(qe, 0L, (acc, x) -> acc + x * x)").as("norm2"))
      .select(expr("CAST(norm2 DIV 1000 AS INT)").as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("vecs"))
      .orderBy("bin"),
    Some("""SELECT CAST(norm2 // 1000 AS INT) AS bin,
           |  count(*) AS vecs
           |FROM (SELECT CAST(list_sum(list_transform(embedding, x ->
           |    CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT) *
           |    CAST(floor(CAST(x AS DOUBLE) * 1024) AS BIGINT)))
           |    AS BIGINT) AS norm2
           |  FROM embeddings)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** K-means as a first-class audit query: cluster sizes + EXACT integer
    * inertia (Σ ||v − c||² over quantized vectors). The per-row distance
    * uses the dot-product identity ||v−c||² = v·v − 2 v·c + c·c with
    * every term a codegen'd [[graft.functions.IntDotExpr]] — the
    * 16-branch CASE over centroid literals keeps the whole row pipeline
    * inside whole-stage codegen (no interpreted array lambda per row).
    * At 100 TB: training is a treeAggregate (no shuffle), the audit scan
    * is one map + one 16-group aggregate. */
  val topicCluster = GraftQuery(
    "q_topic_cluster",
    "k-means topic clusters: sizes + exact integer inertia per cluster",
    (s, dir) => {
      import graft.functions.{Ivf, QuantizedExprs}
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
        .select("vec_id", "qe")
        .localCheckpoint(true)
      val cents = Ivf.trainQuantized(e, "vec_id", "qe", k = 16)
      val cSelf = cents.map(c => c.map(x => x * x).sum)
      val dotToC = (0 until 16).map { cid =>
        when(col("cid") === cid,
          QuantizedExprs.intDot(col("qe"),
            typedLit(cents(cid).toSeq)) * -2L + lit(cSelf(cid)))
      }.reduceRight(_.otherwise(_)) // right-nest: one otherwise per CASE
      e.withColumn("cid", Ivf.assignQuantized(col("qe"), cents))
        .withColumn("term",
          QuantizedExprs.intDot(col("qe"), col("qe")) + dotToC)
        .groupBy("cid")
        .agg(count(lit(1)).as("n_vectors"), sum("term").as("inertia"))
        .orderBy("cid")
    },
    Some(s"""WITH ${graft.functions.Ivf.trainAssignCtes("embeddings",
               "vec_id", "embedding", k = 16, iters = 3)}
            |SELECT CAST(f.cid AS INT) AS cid, count(*) AS n_vectors,
            |  CAST(sum(${graft.functions.Ivf.l2Sql("e.qe", "c.c")})
            |    AS BIGINT) AS inertia
            |FROM e JOIN fin f USING (vec_id)
            |JOIN c3 c ON f.cid = c.cid
            |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Batch ANN retrieval — the production shape: a TABLE of queries
    * (not one driver-side vector) joined against the IVF index. Each
    * query probes its 2 nearest coarse centroids (tiny query×16 cross
    * join), candidates attach by cluster-id equi-join (the probe set
    * broadcasts; the corpus never reshuffles), scoring is the codegen'd
    * integer dot, and per-query top-3 is a window over the
    * high-cardinality query key — no row concentration anywhere. */
  val annBatch = GraftQuery(
    "q_ann_batch",
    "batch ANN: query table x IVF index join, per-query top-3",
    (s, dir) => {
      import s.implicits._
      import graft.functions.{Ivf, QuantizedExprs}
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
        .select("vec_id", "qe")
        .localCheckpoint(true)
      val cents = Ivf.trainQuantized(e, "vec_id", "qe", k = 16)
      val centDf = cents.toSeq.zipWithIndex
        .map { case (c, i) => (i, c.toSeq) }.toDF("cid", "c")
      val queries = e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("q_id"), col("qe").as("q_qe"))
      val pw = Window.partitionBy("q_id")
        .orderBy(col("d").asc, col("cid").asc)
      val probes = queries.crossJoin(broadcast(centDf))
        .withColumn("d",
          QuantizedExprs.intDot(col("q_qe"), col("q_qe"))
            - QuantizedExprs.intDot(col("q_qe"), col("c")) * 2L
            + QuantizedExprs.intDot(col("c"), col("c")))
        .withColumn("rn", row_number().over(pw))
        .filter(col("rn") <= 2)
        .select("q_id", "q_qe", "cid")
      val cand = e.filter(col("vec_id") >= 5)
        .withColumn("cid", Ivf.assignQuantized(col("qe"), cents))
      val tw = Window.partitionBy("q_id")
        .orderBy(col("dot").desc, col("vec_id").asc)
      cand.join(broadcast(probes), "cid")
        .withColumn("dot",
          QuantizedExprs.intDot(col("qe"), col("q_qe")))
        .withColumn("rank", row_number().over(tw))
        .filter(col("rank") <= 3)
        .select(col("q_id"), col("rank"), col("vec_id"))
        .orderBy("q_id", "rank")
    },
    Some(s"""WITH ${graft.functions.Ivf.trainAssignCtes("embeddings",
               "vec_id", "embedding", k = 16, iters = 3)},
            |qs AS (SELECT vec_id AS q_id, qe AS q_qe FROM e
            |       WHERE vec_id < 5),
            |probes AS (
            |  SELECT q_id, q_qe, cid FROM (
            |    SELECT q.q_id, q.q_qe, c.cid, ROW_NUMBER() OVER (
            |        PARTITION BY q.q_id
            |        ORDER BY ${graft.functions.Ivf.l2Sql("q.q_qe", "c.c")},
            |          c.cid) AS rn
            |    FROM qs q, c3 c) WHERE rn <= 2),
            |cand AS (
            |  SELECT e.vec_id, e.qe, f.cid FROM e
            |  JOIN fin f USING (vec_id) WHERE e.vec_id >= 5)
            |SELECT q_id, rank, vec_id FROM (
            |  SELECT p.q_id, cand.vec_id, ROW_NUMBER() OVER (
            |      PARTITION BY p.q_id ORDER BY
            |        list_sum(list_transform(generate_series(1,
            |          len(cand.qe)), i -> cand.qe[i] * p.q_qe[i])) DESC,
            |        cand.vec_id) AS rank
            |  FROM cand JOIN probes p USING (cid))
            |WHERE rank <= 3 ORDER BY q_id, rank""".stripMargin))

  /** Semantic mix audit: IVF cluster × language document counts with
    * per-cluster language shares — the cross-modal join (embedding id =
    * document id) a mix planner reads to see whether a semantic topic is
    * dominated by one language. The k-means index is the SAME integer
    * training as q_ann_ivf (one treeAggregate per round), assignment is
    * the codegen'd nearest-centroid expression, and the share join
    * broadcasts |k| cluster totals. */
  val semanticMix = GraftQuery(
    "q_semantic_mix",
    "IVF-cluster x language mix matrix with per-cluster shares",
    (s, dir) => {
      import graft.functions.Ivf
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
        .select("vec_id", "qe")
        .localCheckpoint(true)
      val cents = Ivf.trainQuantized(e, "vec_id", "qe", k = 16)
      val assigned = e
        .withColumn("cid", Ivf.assignQuantized(col("qe"), cents))
        .select("vec_id", "cid")
      val d = docs(s, dir).select(col("doc_id"), col("lang"))
      val ct = assigned
        .join(d, assigned("vec_id") === d("doc_id"))
        .groupBy("cid", "lang").agg(count(lit(1)).as("n_docs"))
      val tot = ct.groupBy("cid").agg(sum("n_docs").as("t"))
      ct.join(broadcast(tot), "cid")
        .select(col("cid"), col("lang"), col("n_docs"),
          expr("n_docs * 1000 DIV t").as("share_pm"))
        .orderBy("cid", "lang")
    },
    Some(s"""WITH ${graft.functions.Ivf.trainAssignCtes("embeddings",
               "vec_id", "embedding", k = 16, iters = 3)},
            |j AS (SELECT f.cid, d.lang
            |      FROM fin f JOIN documents d ON f.vec_id = d.doc_id),
            |ct AS (SELECT cid, lang, count(*) AS n_docs
            |       FROM j GROUP BY 1, 2),
            |tot AS (SELECT cid, CAST(sum(n_docs) AS BIGINT) AS t
            |        FROM ct GROUP BY 1)
            |SELECT cid, lang, n_docs, n_docs * 1000 // t AS share_pm
            |FROM ct JOIN tot USING (cid)
            |ORDER BY cid, lang""".stripMargin))

  /** Containment (asymmetric Jaccard) near-dup detection: pairs where the
    * SMALLER document's shingle set is ≥80% inside the other's —
    * |A∩B| / min(|A|,|B|) ≥ 0.8. This is the snippet-embedded-in-page /
    * quote-inside-article case symmetric Jaccard misses (a 50-shingle doc
    * fully contained in a 5000-shingle doc has J ≈ 0.01 but containment
    * 1.0). Same scale shape as [[dedupNgramJaccard]]: checkpointed
    * inverted shingle index, shuffle_hash candidate self-join (candidates
    * are co-occurring pairs, linear-ish in the corpus, never all-pairs),
    * broadcast per-doc counts onto the small pair aggregate. Integer-only
    * verdict: inter×10 ≥ 8×min(n1,n2). The `direction` column names the
    * contained side — that's the document a dedup pass would drop. */
  val dedupContainment = GraftQuery(
    "q_dedup_containment",
    "containment (asymmetric-Jaccard) near-dup pairs, contained side named",
    (s, dir) => {
      // same shared index + candidate pairs as the Jaccard gate
      val ix = TokenStats.shingleIndex3(s, dir)
      ix.pairs
        .join(broadcast(ix.cnt.as("ca")), col("d1") === col("ca.doc_id"))
        .join(broadcast(ix.cnt.as("cb")), col("d2") === col("cb.doc_id"))
        .select(col("d1"), col("d2"), col("inter"),
          col("ca.n").as("n1"), col("cb.n").as("n2"))
        .filter(col("inter") * 10 >= least(col("n1"), col("n2")) * 8)
        .withColumn("direction",
          when(col("inter") * 10 >= col("n1") * 8 &&
            col("inter") * 10 >= col("n2") * 8, "both")
            .when(col("inter") * 10 >= col("n1") * 8, "d1_in_d2")
            .otherwise("d2_in_d1"))
        .orderBy("d1", "d2")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            |           FROM documents),
            |sh AS (SELECT DISTINCT doc_id, s
            |       FROM (SELECT doc_id, unnest($duckShingles) AS s
            |             FROM w WHERE len(ws) >= 3)),
            |cnt AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
            |pairs AS (SELECT a.doc_id AS d1, b.doc_id AS d2,
            |            count(*) AS inter
            |          FROM sh a JOIN sh b
            |            ON a.s = b.s AND a.doc_id < b.doc_id
            |          GROUP BY 1, 2)
            |SELECT d1, d2, inter, ca.n AS n1, cb.n AS n2,
            |  CASE WHEN inter * 10 >= ca.n * 8 AND inter * 10 >= cb.n * 8
            |       THEN 'both'
            |       WHEN inter * 10 >= ca.n * 8 THEN 'd1_in_d2'
            |       ELSE 'd2_in_d1' END AS direction
            |FROM pairs
            |JOIN cnt ca ON ca.doc_id = d1
            |JOIN cnt cb ON cb.doc_id = d2
            |WHERE inter * 10 >= least(ca.n, cb.n) * 8
            |ORDER BY d1, d2""".stripMargin))

  /** Two-corpus FUZZY JOIN (record linkage / entity resolution): match
    * every document of an incoming increment (src18/src19) to its BEST
    * near-duplicate in the existing corpus by n-gram Jaccard. The join
    * differs from [[dedupIncremental]] (which only counts band
    * collisions): candidates come from the inverted shingle index
    * restricted to increment×corpus — corpus×corpus and
    * increment×increment pairs never form — then exact Jaccard verifies,
    * and ONE partitioned window picks the winner per increment doc (max
    * score, ties to the lowest corpus id). Left-join contract: every
    * increment doc appears, unmatched as match_id -1 — what a linkage
    * pipeline consumes downstream. Integer score (parts-per-million,
    * truncating) and integer threshold test (J ≥ 0.2 as inter·5 ≥ uni),
    * so both engines agree bit-for-bit.
    *
    * Shuffle shape: the INCREMENT's inverted shingle index broadcasts
    * (an increment is small relative to the corpus by definition — the
    * asymmetry fuzzy joins exist to exploit), so the corpus streams
    * map-side through one broadcast hash join and the only exchange
    * carries candidate PAIRS (tiny). Per-doc shingle counts are computed
    * in the scan (`size(array_distinct(...))` — no counting aggregate
    * over the corpus). The broadcast is GUARDED, not assumed: a cheap
    * driver probe sums the increment's text length (pushdown-filtered
    * column scan, no shingling) and flips to a shuffle_hash posting-list
    * join — same semantics, both sides exchanged — when the increment
    * exceeds `spark.graft.fuzzyJoin.maxBroadcastChars` (default 32M
    * chars; the exploded posting relation runs ≈8× the text bytes, so
    * the default caps the broadcast near 256 MB — well inside executor
    * memory, far above any honest "increment"). */
  val fuzzyJoin = GraftQuery(
    "q_fuzzy_join",
    "fuzzy join: best corpus match per increment doc (Jaccard >= 0.2)",
    (s, dir) => {
      val shaped = docs(s, dir)
        .select(col("doc_id"),
          col("source").isin("src18", "src19").as("is_new"),
          array_distinct(graft.functions.SignatureExprs.wordShingles(
            TF.words(col("text")), 3)).as("shs"))
        .filter(size(col("shs")) >= 1)
        .withColumn("n", size(col("shs")).cast("long"))
      val newSide = shaped.filter(col("is_new"))
        .select(col("doc_id").as("nid"), col("n").as("na"),
          explode(col("shs")).as("sh"))
      // size guard: one column-pruned, filter-pushed scan of the
      // increment; no shingle work (the probe must stay cheaper than
      // the plan decision it makes)
      val incrementChars = docs(s, dir)
        .filter(col("source").isin("src18", "src19"))
        .agg(coalesce(sum(length(col("text"))), lit(0L)))
        .head().getLong(0)
      val maxBroadcastChars = s.conf
        .get("spark.graft.fuzzyJoin.maxBroadcastChars", "33554432")
        .toLong
      val hinted =
        if (incrementChars <= maxBroadcastChars) broadcast(newSide)
        else newSide.hint("shuffle_hash")
      val inter = shaped.filter(!col("is_new"))
        .select(col("doc_id").as("mid"), col("n").as("nb"),
          explode(col("shs")).as("sh"))
        .join(hinted, "sh")
        .groupBy(col("nid"), col("mid"), col("na"), col("nb"))
        .agg(count(lit(1)).as("inter"))
      val scored = inter
        .withColumn("uni", col("na") + col("nb") - col("inter"))
        .filter(col("inter") * 5 >= col("uni"))
        .select(col("nid"), col("mid"),
          expr("inter * 1000000 DIV uni").as("score_ppm"))
      val best = scored
        .withColumn("rn", row_number().over(Window.partitionBy("nid")
          .orderBy(col("score_ppm").desc, col("mid").asc)))
        .filter(col("rn") === 1).drop("rn")
        .withColumnRenamed("nid", "doc_id")
      docs(s, dir).filter(col("source").isin("src18", "src19"))
        .select("doc_id")
        .join(best, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("mid"), lit(-1L)).as("match_id"),
          coalesce(col("score_ppm"), lit(0L)).as("score_ppm"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            |           FROM documents),
            |flags AS (SELECT doc_id,
            |    source IN ('src18', 'src19') AS is_new FROM documents),
            |sh AS (SELECT DISTINCT doc_id, s
            |       FROM (SELECT doc_id, unnest($duckShingles) AS s
            |             FROM w WHERE len(ws) >= 3)),
            |shf AS (SELECT sh.doc_id, f.is_new, s
            |        FROM sh JOIN flags f USING (doc_id)),
            |cnt AS (SELECT doc_id, count(*) AS n FROM shf GROUP BY 1),
            |pairs AS (SELECT a.doc_id AS doc_id, b.doc_id AS mid,
            |            count(*) AS inter
            |          FROM shf a JOIN shf b
            |            ON a.s = b.s AND a.is_new AND NOT b.is_new
            |          GROUP BY 1, 2),
            |scored AS (
            |  SELECT p.doc_id, p.mid,
            |    CAST(p.inter * 1000000
            |      // (ca.n + cb.n - p.inter) AS BIGINT) AS score_ppm
            |  FROM pairs p
            |  JOIN cnt ca ON ca.doc_id = p.doc_id
            |  JOIN cnt cb ON cb.doc_id = p.mid
            |  WHERE p.inter * 5 >= ca.n + cb.n - p.inter),
            |best AS (SELECT doc_id, mid, score_ppm FROM (
            |    SELECT *, row_number() OVER (PARTITION BY doc_id
            |      ORDER BY score_ppm DESC, mid) AS rn
            |    FROM scored) WHERE rn = 1)
            |SELECT f.doc_id, COALESCE(b.mid, -1) AS match_id,
            |  COALESCE(b.score_ppm, 0) AS score_ppm
            |FROM flags f LEFT JOIN best b USING (doc_id)
            |WHERE f.is_new ORDER BY doc_id""".stripMargin))

  /** Split label for one doc id: hash-assigned 80/10/10 holdout. The
    * assignment is a pure function of the id — stable across runs,
    * parallelism, AND engines (the portable hash both sides compute),
    * which is what makes a holdout split reproducible: re-ingesting
    * the corpus or re-running the pipeline can never move a document
    * between train and test. */
  private def splitCol: Column = {
    val bucket = expr(
      s"${TF.hash60Sql("CAST(doc_id AS STRING)")} % 100")
    when(bucket < 80, "train").when(bucket < 90, "val")
      .otherwise("test")
  }
  private val splitDuckSql: String =
    s"""CASE WHEN ${TF.hash60DuckSql("CAST(doc_id AS VARCHAR)")} % 100
       |       < 80 THEN 'train'
       |     WHEN ${TF.hash60DuckSql("CAST(doc_id AS VARCHAR)")} % 100
       |       < 90 THEN 'val'
       |     ELSE 'test' END""".stripMargin

  /** Deterministic train/val/test holdout — the split step every
    * training run needs before anything touches the corpus. One
    * codegen'd projection on the scan (no shuffle, no RNG state);
    * per-split counts + an id checksum pin the exact assignment. */
  val splitHoldout = GraftQuery(
    "q_split_holdout",
    "hash-assigned 80/10/10 train/val/test split (stable, engine-portable)",
    (s, dir) => docs(s, dir)
      .withColumn("split", splitCol)
      .groupBy("split")
      .agg(count(lit(1)).as("docs"),
        min("doc_id").as("min_id"), max("doc_id").as("max_id"),
        sum("doc_id").as("id_checksum"))
      .orderBy("split"),
    Some(s"""SELECT split, count(*) AS docs,
            |  min(doc_id) AS min_id, max(doc_id) AS max_id,
            |  CAST(sum(doc_id) AS BIGINT) AS id_checksum
            |FROM (SELECT doc_id, $splitDuckSql AS split
            |      FROM documents)
            |GROUP BY split ORDER BY split""".stripMargin))

  /** Split-leakage audit — eval hygiene: NEAR-DUPLICATE clusters (the
    * q_dedup_cluster connected components over simhash pairs) must
    * not straddle splits, or eval documents leak into training as
    * their near-copies. A hash split assigns each member
    * independently, so any multi-member cluster straddles with high
    * probability — which is exactly why the split must run AFTER
    * dedup (or per cluster id); this audit quantifies the damage of
    * doing it per document. Cluster labels come from the same
    * component machinery the dedup query pins; the audit itself is
    * one small aggregate over them. */
  val splitLeakage = GraftQuery(
    "q_split_leakage",
    "near-dup clusters straddling train/val/test (leaked eval docs)",
    (s, dir) => {
      val lab = graft.operators.ConnectedComponents
        .minLabel(simhashPairs(s, dir), "d1", "d2")
      lab.select(col("node").as("doc_id"), col("cluster_id"))
        .withColumn("split", splitCol)
        .groupBy("cluster_id")
        .agg(countDistinct("split").as("splits"),
          count(lit(1)).as("members"))
        .filter(col("splits") > 1)
        .select("cluster_id", "members", "splits")
        .orderBy("cluster_id")
    },
    Some(s"""WITH RECURSIVE $duckSimhashPairs,
            |e AS (SELECT d1 AS a, d2 AS b FROM pairs
            |      UNION ALL SELECT d2, d1 FROM pairs),
            |cc(node, lbl) AS (
            |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
            |  UNION
            |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.node
            |  WHERE cc.lbl < e.b
            |),
            |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
            |        FROM cc GROUP BY 1)
            |SELECT cluster_id,
            |  CAST(count(*) AS BIGINT) AS members,
            |  CAST(count(DISTINCT split) AS BIGINT) AS splits
            |FROM (SELECT cluster_id, doc_id, $splitDuckSql AS split
            |      FROM lab)
            |GROUP BY cluster_id
            |HAVING count(DISTINCT split) > 1
            |ORDER BY cluster_id""".stripMargin))

  /** The remedy q_split_leakage motivates: split BY DEDUP UNIT — a
    * whole near-dup cluster hashes to one split (singletons hash by
    * their own id), so no near-copy can straddle train/test by
    * construction. Output: per-split doc counts + id checksum, each
    * row also carrying the global leaked-cluster count — which this
    * assignment provably drives to ZERO (the value the oracle pins),
    * against 17/28/371 leaked clusters under the per-document split
    * at the three scales. Scale shape: the cluster labels are the
    * same component output the dedup query pins; the assignment is
    * one left join + codegen'd projection. */
  val splitByCluster = GraftQuery(
    "q_split_by_cluster",
    "cluster-aware holdout: whole near-dup clusters per split, zero leakage",
    (s, dir) => {
      val lab = graft.operators.ConnectedComponents
        .minLabel(simhashPairs(s, dir), "d1", "d2")
        .select(col("node").as("doc_id"), col("cluster_id"))
      // cluster labels cover EVERY doc in any near-dup pair — an
      // unbounded fraction of the corpus, so broadcast is probed, not
      // assumed (the fuzzyJoin guard pattern): minLabel returns a
      // checkpointed frame, so the count is a cached-scan job, and
      // past the cap (~4M labels ≈ 64 MB serialized) the join flips
      // to shuffle_hash with identical semantics.
      val maxBroadcastLabels = s.conf
        .get("spark.graft.splitByCluster.maxBroadcastLabels", "4194304")
        .toLong
      val hintedLab =
        if (lab.count() <= maxBroadcastLabels) broadcast(lab)
        else lab.hint("shuffle_hash")
      val assign = docs(s, dir).select("doc_id")
        .join(hintedLab, Seq("doc_id"), "left")
        .withColumn("unit",
          coalesce(col("cluster_id"), col("doc_id")))
        .withColumn("bucket",
          expr(s"${TF.hash60Sql("CAST(unit AS STRING)")} % 100"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val").otherwise("test"))
        .localCheckpoint(true) // split totals + leak audit both read it
      val leaked = assign.filter(col("cluster_id").isNotNull)
        .groupBy("cluster_id")
        .agg(countDistinct("split").as("k"))
        .filter(col("k") > 1)
        .agg(count(lit(1)).as("leaked_clusters"))
      assign.groupBy("split")
        .agg(count(lit(1)).as("docs"),
          sum("doc_id").as("id_checksum"))
        .crossJoin(broadcast(leaked))
        .orderBy("split")
    },
    Some(s"""WITH RECURSIVE $duckSimhashPairs,
            |e AS (SELECT d1 AS a, d2 AS b FROM pairs
            |      UNION ALL SELECT d2, d1 FROM pairs),
            |cc(node, lbl) AS (
            |  SELECT a, a FROM (SELECT DISTINCT a FROM e)
            |  UNION
            |  SELECT e.b, cc.lbl FROM cc JOIN e ON e.a = cc.node
            |  WHERE cc.lbl < e.b
            |),
            |lab AS (SELECT node AS doc_id, min(lbl) AS cluster_id
            |        FROM cc GROUP BY 1),
            |assign AS (
            |  SELECT d.doc_id, l.cluster_id,
            |    CASE WHEN ${TF.hash60DuckSql(
                 "CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)")}
            |           % 100 < 80 THEN 'train'
            |         WHEN ${TF.hash60DuckSql(
                 "CAST(COALESCE(l.cluster_id, d.doc_id) AS VARCHAR)")}
            |           % 100 < 90 THEN 'val'
            |         ELSE 'test' END AS split
            |  FROM documents d LEFT JOIN lab l USING (doc_id)),
            |leaked AS (
            |  SELECT CAST(count(*) AS BIGINT) AS leaked_clusters FROM (
            |    SELECT cluster_id FROM assign
            |    WHERE cluster_id IS NOT NULL
            |    GROUP BY cluster_id
            |    HAVING count(DISTINCT split) > 1))
            |SELECT split, count(*) AS docs,
            |  CAST(sum(doc_id) AS BIGINT) AS id_checksum,
            |  (SELECT leaked_clusters FROM leaked) AS leaked_clusters
            |FROM assign GROUP BY split ORDER BY split""".stripMargin))

  val all: Seq[GraftQuery] = Seq(
    dedupExact, dedupNgramJaccard, dedupMinhashLsh, lshPrecision,
    lshMultitable, dedupSimhash,
    dedupEmbedding, textLangId, textQuality, textTokens, textFingerprint,
    annCosineTopk, annLshBuckets, annIvf, multimodalMeta, sampleStratified,
    ngramTopk, docLenHist, multimodalPlan, decontaminate, packSequences,
    ivfBalance,
    contaminationNgram, contaminationSemantic, dedupSubstring,
    embStats, annLshSearch, textClean, dedupCluster, annRecall,
    annSqRecall, annMrlRecall, annPqRecall, annIvfPq, topicCluster,
    annBatch, semanticMix,
    dedupContainment, fuzzyJoin, splitHoldout, splitLeakage,
    splitByCluster)
}
