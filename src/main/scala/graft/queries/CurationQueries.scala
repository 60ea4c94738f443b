package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{Ivf, Similarity, SignatureExprs, TextFunctions => TF}

/** Corpus-curation operators — the quality-filter / redaction / span-dedup
  * / semantic-dedup / retrieval surface of a training-data pipeline
  * (beyond-the-reference extension next to PipelineQueries):
  *
  *   - repetition gating (Gopher-style repeated-token signals, Rae et al.
  *     2021 §A1.1) and cross-document span removal (C4, Raffel et al.
  *     2020 §2.2) — the two classic text-quality passes;
  *   - PII scrubbing (regex + denylist redaction);
  *   - SemDeDup (Abbas et al. 2023): k-means cluster then prune
  *     near-identical embeddings within each cluster;
  *   - df-weighted ranked keyword retrieval and training-mix planning.
  *
  * Same portability discipline as PipelineQueries: integer-only outputs
  * (per-mille fractions via truncating division — identical in Spark DIV
  * and DuckDB `//`), total ORDER BY, quantized integer vector arithmetic
  * so every query has a bit-exact DuckDB oracle.
  */
object CurationQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")
  private def embs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "embeddings")

  /** DuckDB n-gram shingle list over a `ws` VARCHAR[] column (1-based). */
  private def duckShingles(n: Int): String = {
    val join = (0 until n).map(i => s"ws[i+$i]").mkString(" || ' ' || ")
    s"list_transform(generate_series(1, len(ws) - ${n - 1}), i -> $join)"
  }

  // ------------------------------------------------------ quality gates

  /** Gopher-style repetition signals (Rae et al. 2021, §A1.1): fraction
    * of the document taken by its single most frequent word and fraction
    * of duplicate word-bigrams, both in exact per-mille; docs above
    * either threshold are flagged for removal. Shape: explode → partial
    * (map-side) count per (doc, token) → per-doc max/sum — two shuffles
    * keyed on doc_id, no window functions, scales linearly in corpus
    * size. Thresholds sit near the corpus p90 so the gate separates. */
  val repetitionFilter = GraftQuery(
    "q_repetition_filter",
    "repetition gate: top-word + duplicate-bigram per-mille (Gopher A1.1)",
    (s, dir) => {
      // Both signals roll up from the shared [[TokenStats]] frames: the
      // per-(doc, word) counts (top = max tf, n = Σ tf) and the
      // per-(doc, bigram) counts (nb = Σ tf, ndb = distinct bigrams) —
      // no explode happens inside this query at all.
      val wordStats = TokenStats.unigrams(s, dir).tf
        .groupBy("doc_id").agg(max("tf").as("top"), sum("tf").as("n"))
      val bigramStats = TokenStats.bigrams(s, dir)
        .groupBy("doc_id").agg(sum("tf").as("nb"), count(lit(1)).as("ndb"))
      wordStats.join(bigramStats, "doc_id")
        .select(col("doc_id"),
          expr("top * 1000 DIV n").as("top_word_pm"),
          expr("(nb - ndb) * 1000 DIV nb").as("dup_bigram_pm"))
        .withColumn("flagged",
          when(col("top_word_pm") > 140 || col("dup_bigram_pm") > 65, 1)
            .otherwise(0))
        .orderBy("doc_id")
    },
    Some("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
           |           FROM documents),
           |wc AS (SELECT doc_id, max(c) AS top, CAST(sum(c) AS BIGINT) AS n
           |       FROM (SELECT doc_id, s, count(*) AS c
           |             FROM (SELECT doc_id, unnest(ws) AS s FROM w)
           |             GROUP BY 1, 2)
           |       GROUP BY 1),
           |bg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb,
           |         count(*) AS ndb
           |       FROM (SELECT doc_id, b, count(*) AS c
           |             FROM (SELECT doc_id,
           |                     unnest(list_transform(
           |                       generate_series(1, len(ws) - 1),
           |                       i -> ws[i] || ' ' || ws[i+1])) AS b
           |                   FROM w WHERE len(ws) >= 2)
           |             GROUP BY 1, 2)
           |       GROUP BY 1)
           |SELECT doc_id, top * 1000 // n AS top_word_pm,
           |  (nb - ndb) * 1000 // nb AS dup_bigram_pm,
           |  CASE WHEN top * 1000 // n > 140
           |         OR (nb - ndb) * 1000 // nb > 65
           |       THEN 1 ELSE 0 END AS flagged
           |FROM wc JOIN bg USING (doc_id)
           |ORDER BY doc_id""".stripMargin))

  /** PII scrubbing: regex redaction (email pattern — a conservative
    * subset valid in both Java regex and RE2) plus denylist-substring
    * redaction, with redaction counts and a content hash of the scrubbed
    * text. Pure per-row codegen'd column ops — no shuffle, the shape that
    * streams through 100 TB at scan speed. The denylist term stands in
    * for a name-gazetteer lookup; counts are substring occurrences
    * (length delta / term length), exactly what replace() redacts. */
  val piiScrub = GraftQuery(
    "q_pii_scrub",
    "PII scrub: regex + denylist redaction with counts and content hash",
    (s, dir) => {
      val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}"
      docs(s, dir)
        .withColumn("step1",
          expr("replace(text, 'customer', '[NAME]')"))
        .withColumn("redacted",
          regexp_replace(col("step1"), email, "[EMAIL]"))
        .select(col("doc_id"),
          size(regexp_extract_all(col("text"), lit(email), lit(0)))
            .as("n_email"),
          expr("CAST((length(text) - " +
            "length(replace(text, 'customer', ''))) DIV 8 AS BIGINT)")
            .as("n_name"),
          length(col("redacted")).cast("long").as("red_len"),
          md5(col("redacted")).as("red_h"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id,
           |  CAST(len(regexp_extract_all(text,
           |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}'))
           |    AS INT) AS n_email,
           |  CAST((length(text) -
           |    length(replace(text, 'customer', ''))) // 8 AS BIGINT)
           |    AS n_name,
           |  CAST(length(regexp_replace(
           |    replace(text, 'customer', '[NAME]'),
           |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
           |    '[EMAIL]', 'g')) AS BIGINT) AS red_len,
           |  md5(regexp_replace(replace(text, 'customer', '[NAME]'),
           |    '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\.[a-zA-Z]{2,}',
           |    '[EMAIL]', 'g')) AS red_h
           |FROM documents ORDER BY doc_id""".stripMargin))

  /** C4-style cross-document span dedup (Raffel et al. 2020 §2.2: drop
    * any span occurring verbatim in more than one document — word
    * 5-grams here standing in for three-sentence spans). Same inverted-
    * index shape as q_dedup_ngram_jaccard: the span index is built once
    * (checkpointed — it feeds both the span-frequency aggregate and the
    * join back), span frequency is one hash aggregate, and the verdict
    * join is shuffle_hash on the span key (broadcast would rebuild the
    * full span→count map per task; SMJ pays two string sorts — measured
    * 1.6×: 0.53 s hinted vs 0.85 s planner default at sf0.1, NOTES.md
    * round 3). Output: per-doc span counts and per-mille kept. */
  val spanDedup = GraftQuery(
    "q_span_dedup",
    "cross-doc repeated 5-gram span removal stats (C4 §2.2)",
    (s, dir) => {
      // NOT spread (unlike the md5-per-window queries): the span
      // explode emits raw shingle strings — no per-row hashing — so a
      // widening exchange costs more than the map side it would
      // parallelize; the heavy work (freq aggregate + shuffle_hash
      // join) shuffles and spreads on its own (A-B-A measured: no win)
      val base = docs(s, dir)
        .select(col("doc_id"), TF.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 5)
        .select(col("doc_id"),
          explode(array_distinct(
            SignatureExprs.wordShingles(col("ws"), 5))).as("sp"))
        .localCheckpoint(true)
      val freq = base.groupBy("sp").agg(count(lit(1)).as("nd"))
      base.join(freq.hint("shuffle_hash"), "sp")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_shared"))
        .select(col("doc_id"), col("n_spans"), col("n_shared"),
          expr("(n_spans - n_shared) * 1000 DIV n_spans").as("keep_pm"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            |           FROM documents),
            |sp AS (SELECT DISTINCT doc_id, s
            |       FROM (SELECT doc_id, unnest(${duckShingles(5)}) AS s
            |             FROM w WHERE len(ws) >= 5)),
            |freq AS (SELECT s, count(*) AS nd FROM sp GROUP BY 1),
            |agg AS (SELECT doc_id, count(*) AS n_spans,
            |          CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END)
            |            AS BIGINT) AS n_shared
            |        FROM sp JOIN freq USING (s) GROUP BY 1)
            |SELECT doc_id, n_spans, n_shared,
            |  (n_spans - n_shared) * 1000 // n_spans AS keep_pm
            |FROM agg ORDER BY doc_id""".stripMargin))

  /** Unigram-rarity document scoring — the integer-exact stand-in for
    * LM-perplexity corpus filtering (CCNet-style): score each document
    * by the average corpus-level rarity of its tokens (rarity(w) =
    * total_tokens / count(w), truncating), flagging the tails (boilerplate
    * scores low — its tokens are everywhere; garbage scores high). Shape:
    * one explode → (word) count aggregate for the stats table, then a
    * shuffle join of occurrences against it keyed on the word and a
    * per-doc sum — at corpus scale the word-stats table is Zipf-compact
    * but NOT broadcastable in general, so the join stays shuffle-keyed
    * with map-side partial aggregation on both ends. */
  val rarityScore = GraftQuery(
    "q_rarity_score",
    "unigram-rarity doc scoring (integer perplexity proxy)",
    (s, dir) => {
      // Shared token-stats stage ([[TokenStats]]): the per-(doc, word)
      // counts, word-stats table and corpus total are built once per
      // session and reused by q_perplexity_bucket / q_repetition_filter —
      // this query adds only the scoring join and the per-doc rollup.
      val TokenStats.Unigrams(tfFrame, stats, total) =
        TokenStats.unigrams(s, dir)
      tfFrame
        .join(stats.hint("shuffle_hash"), "w")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_words"),
          sum(col("tf") * expr(s"$total DIV wc")).as("rarity_sum"))
        .select(col("doc_id"), col("n_words"),
          expr("rarity_sum DIV n_words").as("rarity_avg"))
        .orderBy("doc_id")
    },
    Some("""WITH occ AS (
           |  SELECT doc_id, unnest(string_split(text, ' ')) AS w
           |  FROM documents),
           |stats AS (SELECT w, count(*) AS wc FROM occ GROUP BY 1),
           |total AS (SELECT count(*) AS t FROM occ),
           |tf AS (SELECT doc_id, w, count(*) AS tf FROM occ GROUP BY 1, 2)
           |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_words,
           |  CAST(sum(tf * (t // wc)) AS BIGINT) // CAST(sum(tf) AS BIGINT)
           |    AS rarity_avg
           |FROM tf JOIN stats USING (w), total
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin))

  // ---------------------------------------------------- semantic dedup

  /** SemDeDup (Abbas et al. 2023): k-means-cluster the embedding space
    * (the integer IVF index, reused — training is the shuffle-free
    * treeAggregate), then within each cluster drop every vector that has
    * a lower-id neighbor above the cosine threshold. The cluster key
    * turns the quadratic all-pairs check into per-cluster joins — the
    * approximation that makes semantic dedup tractable at corpus scale.
    * τ = 0.25 on QUANTIZED vectors (integer compare — exact in both
    * engines, same test as q_dedup_embedding). */
  val semDedup = GraftQuery(
    "q_semdedup",
    "SemDeDup: IVF-cluster then prune near-identical embeddings",
    (s, dir) => {
      val e = embs(s, dir)
        .withColumn("qe", Similarity.quantize(col("embedding")))
        .select("vec_id", "qe")
        .localCheckpoint(true)
      val centroids = Ivf.trainQuantized(e, "vec_id", "qe", k = 16)
      val assigned = e
        .withColumn("c", Ivf.assignQuantized(col("qe"), centroids))
        .localCheckpoint(true)
      val dropped = assigned.as("x")
        .join(assigned.as("y"),
          col("x.c") === col("y.c") &&
            col("y.vec_id") < col("x.vec_id") &&
            Similarity.quantizedCosineAtLeast(
              col("x.qe"), col("y.qe"), num = 1L, denom = 16L),
          "left_semi")
        .select(col("vec_id").as("dropped_id"))
      assigned.join(dropped, col("vec_id") === col("dropped_id"), "left")
        .select(col("vec_id"), col("c").cast("int").as("ivf_cluster"),
          when(col("dropped_id").isNull, 1).otherwise(0).as("kept"))
        .orderBy("vec_id")
    },
    Some(s"""WITH ${Ivf.trainAssignCtes("embeddings", "vec_id",
              "embedding", k = 16, iters = 3)},
            |v AS (SELECT e.vec_id, e.qe, f.cid
            |      FROM e JOIN fin f USING (vec_id)),
            |dropped AS (
            |  SELECT DISTINCT x.vec_id FROM (
            |    SELECT x.vec_id,
            |      list_sum(list_transform(generate_series(1, len(x.qe)),
            |        i -> x.qe[i] * y.qe[i])) AS dot,
            |      list_sum(list_transform(x.qe, t -> t * t)) AS nx,
            |      list_sum(list_transform(y.qe, t -> t * t)) AS ny
            |    FROM v x JOIN v y
            |      ON x.cid = y.cid AND y.vec_id < x.vec_id) x
            |  WHERE dot >= 0 AND dot * dot * 16 >= nx * ny)
            |SELECT v.vec_id, CAST(v.cid AS INT) AS ivf_cluster,
            |  CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
            |FROM v LEFT JOIN dropped d ON v.vec_id = d.vec_id
            |ORDER BY v.vec_id""".stripMargin))

  /** INCREMENTAL dedup — the formulation that matters at 100 TB: a new
    * crawl increment (sources src18/src19 here) is deduped against the
    * existing corpus WITHOUT re-pairing the corpus with itself. New docs
    * band-join against all band keys, but only (new × corpus) and
    * (new × earlier-new) pairs survive the predicate — corpus×corpus
    * never materializes. In production the corpus side is the persisted
    * signature store from previous runs (one scan of the increment + one
    * join against stored keys per run); greedy keep-lowest-id within the
    * increment mirrors q_semdedup's tiebreak. */
  val dedupIncremental = GraftQuery(
    "q_dedup_incremental",
    "incremental LSH dedup: new increment vs existing corpus signatures",
    (s, dir) => {
      import graft.functions.SignatureExprs
      val base = docs(s, dir)
        .select(col("doc_id"),
          col("source").isin("src18", "src19").as("is_new"),
          TF.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 3)
        .select(col("doc_id"), col("is_new"),
          SignatureExprs.minhashSig(
            array_distinct(SignatureExprs.wordShingles(col("ws"), 3)),
            32).as("sig"))
        .localCheckpoint(true)
      val bands = base
        .withColumn("bands", TF.minhashBands("sig", 8, 4))
        .select(col("doc_id"), col("is_new"),
          posexplode(col("bands")).as(Seq("band", "key")))
        .localCheckpoint(true)
      val matches = bands.filter(col("is_new")).as("n")
        .join(bands.as("p").hint("shuffle_hash"),
          col("n.band") === col("p.band") &&
            col("n.key") === col("p.key") &&
            (!col("p.is_new") || col("p.doc_id") < col("n.doc_id")))
        .groupBy(col("n.doc_id").as("doc_id"))
        .agg(countDistinct(col("p.doc_id")).as("n_matches"))
      base.filter(col("is_new")).select(col("doc_id"))
        .join(matches.withColumnRenamed("doc_id", "m_doc_id"),
          col("doc_id") === col("m_doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_matches"), lit(0L)).as("n_matches"),
          when(col("m_doc_id").isNull, 1).otherwise(0).as("kept"))
        .orderBy("doc_id")
    },
    Some(s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
            |           FROM documents),
            |flags AS (SELECT doc_id,
            |    source IN ('src18', 'src19') AS is_new FROM documents),
            |bandkeys AS (
            |  ${TF.minhashBandsDuckSql("doc_id",
                 "list_transform(generate_series(1, len(ws) - 2), " +
                   "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])",
                 "w", "WHERE len(ws) >= 3", k = 32, bands = 8,
                 rowsPerBand = 4)}
            |),
            |bk AS (SELECT b.doc_id, f.is_new, b.band, b.key
            |       FROM bandkeys b JOIN flags f USING (doc_id)),
            |matches AS (
            |  SELECT n.doc_id, count(DISTINCT p.doc_id) AS n_matches
            |  FROM bk n JOIN bk p
            |    ON n.band = p.band AND n.key = p.key
            |    AND (NOT p.is_new OR p.doc_id < n.doc_id)
            |  WHERE n.is_new
            |  GROUP BY 1),
            |newdocs AS (SELECT DISTINCT doc_id FROM bk WHERE is_new)
            |SELECT d.doc_id,
            |  COALESCE(m.n_matches, 0) AS n_matches,
            |  CASE WHEN m.doc_id IS NULL THEN 1 ELSE 0 END AS kept
            |FROM newdocs d LEFT JOIN matches m USING (doc_id)
            |ORDER BY doc_id""".stripMargin))

  /** Metadata-FILTERED vector search — the production retrieval pattern:
    * candidates are pruned by a document-metadata predicate (language +
    * length gate here) BEFORE any similarity scoring. The eligible-id
    * set is a semi-join into the embedding scan (broadcast: the filter
    * output is ids only, tiny relative to the vector corpus), so vectors
    * failing the filter are never scored — at 100 TB that is the
    * difference between scoring the corpus and scoring a slice. Scoring
    * and ranking mirror q_ann_cosine_topk (rank-only output,
    * TakeOrderedAndProject). */
  val annFiltered = GraftQuery(
    "q_ann_filtered",
    "metadata-filtered cosine top-10 (predicate prunes before scoring)",
    (s, dir) => {
      val eligible = docs(s, dir)
        .filter(col("lang") === "en" && col("n_chars") >= 200)
        .select(col("doc_id"))
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val top = e.filter(col("vec_id") =!= 0)
        .join(broadcast(eligible), col("vec_id") === col("doc_id"),
          "left_semi")
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
           |      WHERE e.vec_id <> 0
           |        AND e.vec_id IN (SELECT doc_id FROM documents
           |                         WHERE lang = 'en' AND n_chars >= 200))
           |WHERE rank <= 10 ORDER BY rank""".stripMargin))

  // -------------------------------------------------- retrieval / mix

  /** Ranked keyword retrieval: per-term tf from one explode+filter pass,
    * document-frequency weights (1e6 / df, truncating) from the same
    * frame, score = Σ tf·weight — integer tf-idf without the log. The df
    * frame is rows-per-term tiny → explicit broadcast; global top-20 via
    * orderBy+limit (TakeOrderedAndProject — each partition keeps a local
    * top-20; never a single-partition window). */
  val keywordSearch = GraftQuery(
    "q_keyword_search",
    "df-weighted ranked keyword search (integer tf-idf, top 20)",
    (s, dir) => {
      val terms = Seq("spark", "query", "window")
      // tf feeds both the df aggregate and the scoring join — materialize
      // it once (no subplan reuse across the two consumers otherwise; at
      // corpus scale that would be two full text scans).
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(TF.words(col("text"))).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), "w")
        .withColumn("contrib", expr("tf * (1000000 DIV df)"))
        .groupBy("doc_id").agg(sum("contrib").as("score"))
      val top = scored.orderBy(col("score").desc, col("doc_id")).limit(20)
      graft.operators.GlobalRank.withRowNumber(
          top, Seq(col("score").desc, col("doc_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("doc_id"), col("score"))
        .orderBy("rank")
    },
    Some("""WITH tf AS (
           |  SELECT doc_id, s AS w, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS s
           |        FROM documents)
           |  WHERE s IN ('spark', 'query', 'window')
           |  GROUP BY 1, 2),
           |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
           |scored AS (
           |  SELECT doc_id,
           |    CAST(sum(tf * (1000000 // df)) AS BIGINT) AS score
           |  FROM tf JOIN df USING (w) GROUP BY 1)
           |SELECT rank, doc_id, score FROM (
           |  SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
           |    AS rank, doc_id, score
           |  FROM scored)
           |WHERE rank <= 20 ORDER BY rank""".stripMargin))

  /** Hybrid retrieval: the production RAG pattern of fusing a KEYWORD
    * rank list (integer tf-idf, the [[keywordSearch]] scorer) with a
    * VECTOR rank list (brute cosine against query vector 0) via
    * Reciprocal Rank Fusion — score = Σ 1/(k + rank), k = 60 (Cormack &
    * Clarke 2009), held integer-exact as 1000000 DIV (60 + rank) so the
    * fusion replays bit-for-bit in the oracle. Each side is a top-20
    * `TakeOrderedAndProject` (never a global sort); the fusion join is
    * 20×20 rows — driver-trivial at any corpus scale, because RRF only
    * ever sees the rank lists, not the corpus. Missing from one list
    * contributes 0 (rank reported as 0). */
  val hybridRrf = GraftQuery(
    "q_hybrid_rrf",
    "hybrid keyword+vector retrieval fused by reciprocal rank (RRF k=60)",
    (s, dir) => {
      val terms = Seq("spark", "query", "window")
      val tf = docs(s, dir)
        .select(col("doc_id"), explode(TF.words(col("text"))).as("w"))
        .filter(col("w").isin(terms: _*))
        .groupBy("doc_id", "w").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val df = tf.groupBy("w").agg(count(lit(1)).as("df"))
      val kwScored = tf.join(broadcast(df), "w")
        .withColumn("contrib", expr("tf * (1000000 DIV df)"))
        .groupBy("doc_id").agg(sum("contrib").as("score"))
      val kwTop = kwScored.orderBy(col("score").desc, col("doc_id"))
        .limit(20)
      val kw = graft.operators.GlobalRank.withRowNumber(
          kwTop, Seq(col("score").desc, col("doc_id")), rnCol = "kw_rank",
          numPartitions = 1)
        .select(col("doc_id"), col("kw_rank"))
      val e = embs(s, dir)
      val q = e.filter(col("vec_id") === 0)
        .select(col("embedding").as("q_emb"))
      val vecTop = e.filter(col("vec_id") =!= 0)
        .crossJoin(broadcast(q))
        .withColumn("sim",
          Similarity.cosineFast(col("embedding"), col("q_emb")))
        .orderBy(col("sim").desc, col("vec_id"))
        .limit(20)
      val vec = graft.operators.GlobalRank.withRowNumber(
          vecTop, Seq(col("sim").desc, col("vec_id")), rnCol = "vec_rank",
          numPartitions = 1)
        .select(col("vec_id").as("doc_id"), col("vec_rank"))
      val fused = kw.join(vec, Seq("doc_id"), "full_outer")
        .select(col("doc_id"),
          coalesce(col("kw_rank"), lit(0L)).as("kw_rank"),
          coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
        .withColumn("rrf", expr(
          "CASE WHEN kw_rank > 0 THEN 1000000 DIV (60 + kw_rank) " +
            "ELSE 0L END + " +
          "CASE WHEN vec_rank > 0 THEN 1000000 DIV (60 + vec_rank) " +
            "ELSE 0L END"))
      val top = fused.orderBy(col("rrf").desc, col("doc_id")).limit(15)
      graft.operators.GlobalRank.withRowNumber(
          top, Seq(col("rrf").desc, col("doc_id")), rnCol = "rank",
          numPartitions = 1)
        .select(col("rank"), col("doc_id"), col("kw_rank"),
          col("vec_rank"), col("rrf"))
        .orderBy("rank")
    },
    Some("""WITH tf AS (
           |  SELECT doc_id, s AS w, count(*) AS tf
           |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS s
           |        FROM documents)
           |  WHERE s IN ('spark', 'query', 'window')
           |  GROUP BY 1, 2),
           |df AS (SELECT w, count(*) AS df FROM tf GROUP BY 1),
           |scored AS (
           |  SELECT doc_id,
           |    CAST(sum(tf * (1000000 // df)) AS BIGINT) AS score
           |  FROM tf JOIN df USING (w) GROUP BY 1),
           |kw AS (SELECT doc_id, rank AS kw_rank FROM (
           |    SELECT ROW_NUMBER() OVER (ORDER BY score DESC, doc_id)
           |      AS rank, doc_id FROM scored)
           |  WHERE rank <= 20),
           |vec AS (SELECT vec_id AS doc_id, rank AS vec_rank FROM (
           |    SELECT ROW_NUMBER() OVER (
           |        ORDER BY list_cosine_similarity(e.embedding, q.q_emb)
           |          DESC, e.vec_id) AS rank, e.vec_id
           |    FROM embeddings e,
           |      (SELECT embedding AS q_emb FROM embeddings
           |       WHERE vec_id = 0) q
           |    WHERE e.vec_id <> 0)
           |  WHERE rank <= 20),
           |fused AS (SELECT doc_id,
           |    COALESCE(kw_rank, 0) AS kw_rank,
           |    COALESCE(vec_rank, 0) AS vec_rank
           |  FROM kw FULL JOIN vec USING (doc_id)),
           |rrfed AS (SELECT doc_id, kw_rank, vec_rank,
           |    CAST(CASE WHEN kw_rank > 0
           |          THEN 1000000 // (60 + kw_rank) ELSE 0 END +
           |        CASE WHEN vec_rank > 0
           |          THEN 1000000 // (60 + vec_rank) ELSE 0 END
           |      AS BIGINT) AS rrf
           |  FROM fused)
           |SELECT rank, doc_id, kw_rank, vec_rank, rrf FROM (
           |  SELECT ROW_NUMBER() OVER (ORDER BY rrf DESC, doc_id)
           |    AS rank, doc_id, kw_rank, vec_rank, rrf FROM rrfed)
           |WHERE rank <= 15 ORDER BY rank""".stripMargin))

  /** Training-mix planner: per-language token counts vs a target mix →
    * per-language per-mille sampling rate to fill a fixed token budget
    * (capped at keep-everything). One tiny aggregate + a literal-frame
    * broadcast join; all integer arithmetic. This is the sampling-rate
    * table a weighted stratified sampler (q_sample_stratified) consumes. */
  val mixPlan = GraftQuery(
    "q_mix_plan",
    "training-mix plan: per-language sampling rates for a token budget",
    (s, dir) => {
      import s.implicits._
      val targets = Seq(
        ("de", 175L), ("en", 300L), ("es", 175L), ("fr", 175L),
        ("zh", 175L)).toDF("t_lang", "target_pm")
      docs(s, dir)
        .select(col("lang"), size(TF.words(col("text"))).as("nw"))
        .groupBy("lang").agg(sum("nw").as("tokens"))
        .join(broadcast(targets), col("lang") === col("t_lang"))
        .select(col("lang"), col("tokens"), col("target_pm"),
          least(lit(1000L),
            expr("(20000 * target_pm DIV 1000) * 1000 DIV tokens"))
            .as("rate_pm"))
        .orderBy("lang")
    },
    Some("""WITH tok AS (
           |  SELECT lang,
           |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens
           |  FROM documents GROUP BY 1),
           |t(t_lang, target_pm) AS (VALUES
           |  ('de', CAST(175 AS BIGINT)), ('en', 300), ('es', 175),
           |  ('fr', 175), ('zh', 175))
           |SELECT lang, tokens, target_pm,
           |  least(1000, (20000 * target_pm // 1000) * 1000 // tokens)
           |    AS rate_pm
           |FROM tok JOIN t ON lang = t_lang
           |ORDER BY lang""".stripMargin))

  // ------------------------------------------- split / bloom / chunk ops

  /** Deterministic train/val/test split: a portable 60-bit md5 hash of
    * the document id, mod 10 → 80/10/10 buckets. Pure map-side labeling
    * (no shuffle until the per-(lang, split) audit aggregate) and stable
    * under reruns/backfills — the property a 100 TB pipeline needs so a
    * document never migrates between splits when the corpus grows. */
  val trainSplit = GraftQuery(
    "q_train_split",
    "deterministic hash 80/10/10 train split, per-(lang, split) audit",
    (s, dir) => docs(s, dir)
      .select(col("lang"),
        expr(s"${TF.hash60Sql("CAST(doc_id AS STRING)")} % 10").as("b"),
        size(TF.words(col("text"))).as("nw"))
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum("nw").as("tokens"))
      .orderBy("lang", "split"),
    Some(s"""SELECT lang, split, count(*) AS n_docs,
            |  CAST(sum(nw) AS BIGINT) AS tokens
            |FROM (
            |  SELECT lang,
            |    CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
            |         ELSE 'test' END AS split,
            |    len(string_split(text, ' ')) AS nw
            |  FROM (SELECT lang, text,
            |          ${TF.hash60DuckSql("CAST(doc_id AS VARCHAR)")} % 10
            |            AS b
            |        FROM documents))
            |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** Bloom-prefiltered incremental span contamination: which documents of
    * a new increment (src18/19) contain a 5-gram span already present in
    * the existing corpus. The corpus span hashes build a Bloom filter
    * (`DataFrameStatFunctions.bloomFilter` — a treeAggregate, no
    * shuffle) that prefilters the increment's spans BEFORE the exact
    * verify join, so at 100 TB the join's probe side is only the
    * filter's survivors (true matches + ~1% false positives), not the
    * increment's full span set; false positives are then eliminated by
    * joining on the span text itself, keeping the output exact. */
  val dedupBloom = GraftQuery(
    "q_dedup_bloom",
    "bloom-prefiltered incremental 5-gram span contamination check",
    (s, dir) => {
      val base = docs(s, dir)
        .select(col("doc_id"), col("source"), TF.words(col("text")).as("ws"))
        .filter(size(col("ws")) >= 5)
      def spans(df: DataFrame): DataFrame = df.select(col("doc_id"),
        explode(array_distinct(
          SignatureExprs.wordShingles(col("ws"), 5))).as("sp"))
      val isNew = col("source").isin("src18", "src19")
      // The corpus span set feeds TWO actions (the Bloom treeAggregate
      // and the exact verify join) — materialize it once or each pays a
      // full split+shingle+explode pass over the corpus text.
      val corpusSp = spans(base.filter(!isNew)).select(col("sp"))
        .localCheckpoint(true)
      // The Bloom hash needs NO oracle parity (the verify join below is
      // exact on the span text) — use codegen'd xxhash64, not the
      // md5-derived portable hash60 (~2× cheaper over the span stream).
      val corpusH = corpusSp.select(xxhash64(col("sp")).as("h"))
      // Size the filter from an UPPER BOUND (total doc count × max
      // spans/doc; the unfiltered count is parquet-metadata-only), not a
      // count() over the exploded span set: over-sizing costs a few bits
      // per item, counting costs a full extra scan+explode pass.
      val nDocs = docs(s, dir).count()
      val bf = corpusH.stat.bloomFilter("h",
        math.max(nDocs * 64L, 1024L), 0.01)
      val bc = s.sparkContext.broadcast(bf)
      val might = udf((h: java.lang.Long) =>
        h != null && bc.value.mightContainLong(h))
      spans(base.filter(isNew))
        .withColumn("h", xxhash64(col("sp")))
        .filter(might(col("h")))
        .join(corpusSp, "sp") // exact verify on the span text
        .groupBy("doc_id")
        .agg(countDistinct("sp").as("n_dup_spans"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (
           |  SELECT doc_id, source, string_split(text, ' ') AS ws
           |  FROM documents WHERE len(string_split(text, ' ')) >= 5),
           |sp AS (
           |  SELECT doc_id, source,
           |    unnest(list_distinct(list_transform(
           |      generate_series(1, len(ws) - 4),
           |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2] || ' ' ||
           |           ws[i+3] || ' ' || ws[i+4]))) AS sp
           |  FROM d)
           |SELECT n.doc_id, count(DISTINCT n.sp) AS n_dup_spans
           |FROM (SELECT doc_id, sp FROM sp
           |      WHERE source IN ('src18', 'src19')) n
           |JOIN (SELECT sp FROM sp
           |      WHERE source NOT IN ('src18', 'src19')) c USING (sp)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Chunk-level dedup (the fixed-boundary paragraph analog of
    * [[spanDedup]]'s sliding spans, RefinedWeb-style): split each
    * document into aligned 20-word chunks, hash each chunk, and mark a
    * chunk duplicated when an earlier document (lower doc_id) contains
    * the identical chunk — keep-first semantics. One shuffle groups
    * chunk hashes, the join back is co-partitioned on the same key, and
    * the final per-document rollup shuffles only (doc_id, flag) pairs.
    * Intra-document repeats are not counted (min doc == self). */
  val dedupChunk = GraftQuery(
    "q_dedup_chunk",
    "aligned 20-word chunk dedup stats, keep-first-document semantics",
    (s, dir) => {
      val chunks = docs(s, dir)
        .select(col("doc_id"), TF.words(col("text")).as("ws"))
        .filter(size(col("ws")) > 0)
        .select(col("doc_id"), explode(expr(
          """transform(sequence(0, (size(ws) - 1) div 20),
            |  i -> array_join(slice(ws, i * 20 + 1, 20), ' '))"""
            .stripMargin)).as("chunk"))
        .select(col("doc_id"), expr(TF.hash60Sql("chunk")).as("ch"))
      val mins = chunks.groupBy("ch").agg(min("doc_id").as("min_doc"))
      chunks.join(mins, "ch")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum(when(col("min_doc") < col("doc_id"), 1L).otherwise(0L))
            .as("n_dup_chunks"))
        .orderBy("doc_id")
    },
    Some(s"""WITH d AS (
            |  SELECT doc_id, string_split(text, ' ') AS ws
            |  FROM documents WHERE len(string_split(text, ' ')) > 0),
            |ch AS (
            |  SELECT doc_id, unnest(list_transform(
            |      generate_series(0, (len(ws) - 1) // 20),
            |      i -> array_to_string(ws[(i*20+1):(i*20+20)], ' ')))
            |    AS chunk
            |  FROM d),
            |h AS (SELECT doc_id, ${TF.hash60DuckSql("chunk")} AS ch
            |      FROM ch),
            |m AS (SELECT ch, min(doc_id) AS min_doc FROM h GROUP BY 1)
            |SELECT h.doc_id, count(*) AS n_chunks,
            |  CAST(sum(CASE WHEN min_doc < doc_id THEN 1 ELSE 0 END)
            |    AS BIGINT) AS n_dup_chunks
            |FROM h JOIN m USING (ch)
            |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Quality-gate funnel: the composed curation pipeline as ONE query —
    * per source, how many documents survive the length gate, then the
    * Gopher repetition gate on top. The per-row gate is map-side; the
    * repetition stats reuse [[repetitionFilter]]'s two doc-keyed
    * aggregations; the final rollup shuffles only (source, flag) pairs.
    * This is the audit table a 100 TB curation run publishes per
    * increment — the funnel view of where documents die. */
  val qualityFunnel = GraftQuery(
    "q_quality_funnel",
    "per-source survival funnel: length gate then repetition gate",
    (s, dir) => {
      // Every per-doc signal is a pointwise expression over the token
      // array, so the whole funnel is ONE map pass + the (source)
      // rollup — zero doc-keyed shuffles. top = the codegen'd
      // TopWordCountExpr (== max word count); n = size(ws) (== Σ of
      // per-word counts); nb = size(ws) - 1 (== total bigrams); ndb =
      // distinct-bigram count. The old explode → groupBy(doc, token) →
      // groupBy(doc) → join chain shuffled |tokens| rows twice per
      // signal for per-doc scalars; DIV-by-zero → NULL reproduces the
      // old left-join-miss → coalesce(0) on word-less docs exactly.
      docs(s, dir)
        .select(col("source"), TF.words(col("text")).as("ws"))
        .select(col("source"),
          size(col("ws")).cast("long").as("nw"),
          SignatureExprs.topWordCount(col("ws")).as("top"),
          size(array_distinct(SignatureExprs.wordShingles(col("ws"), 2)))
            .cast("long").as("ndb"))
        .select(col("source"),
          col("nw").between(20, 1000).as("pass_len"),
          (coalesce(expr("top * 1000 DIV nw"), lit(0L)) <= 140 &&
            coalesce(expr(
              "CASE WHEN nw >= 2 THEN (nw - 1 - ndb) * 1000 DIV (nw - 1) END"),
              lit(0L)) <= 65).as("pass_rep"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass_len"), 1L).otherwise(0L)).as("n_pass_len"),
          sum(when(col("pass_len") && col("pass_rep"), 1L).otherwise(0L))
            .as("n_pass_all"))
        .orderBy("source")
    },
    Some("""WITH w AS (SELECT doc_id, source,
           |            string_split(text, ' ') AS ws FROM documents),
           |wc AS (SELECT doc_id, max(c) AS top,
           |         CAST(sum(c) AS BIGINT) AS n
           |       FROM (SELECT doc_id, s, count(*) AS c
           |             FROM (SELECT doc_id, unnest(ws) AS s FROM w)
           |             GROUP BY 1, 2)
           |       GROUP BY 1),
           |bg AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS nb,
           |         count(*) AS ndb
           |       FROM (SELECT doc_id, b, count(*) AS c
           |             FROM (SELECT doc_id,
           |                     unnest(list_transform(
           |                       generate_series(1, len(ws) - 1),
           |                       i -> ws[i] || ' ' || ws[i+1])) AS b
           |                   FROM w WHERE len(ws) >= 2)
           |             GROUP BY 1, 2)
           |       GROUP BY 1),
           |fl AS (
           |  SELECT w.source,
           |    len(w.ws) BETWEEN 20 AND 1000 AS pass_len,
           |    coalesce(wc.top * 1000 // wc.n, 0) <= 140 AND
           |      coalesce((bg.nb - bg.ndb) * 1000 // bg.nb, 0) <= 65
           |      AS pass_rep
           |  FROM w LEFT JOIN wc USING (doc_id)
           |    LEFT JOIN bg USING (doc_id))
           |SELECT source, count(*) AS n_docs,
           |  CAST(sum(CASE WHEN pass_len THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_pass_len,
           |  CAST(sum(CASE WHEN pass_len AND pass_rep THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_pass_all
           |FROM fl GROUP BY 1 ORDER BY 1""".stripMargin))

  /** Linear quality classifier (the fastText-classifier shape distilled
    * to a fixed integer-weight linear model): stopword density, average
    * word length, digit density and a capped length feature combine into
    * one score; θ=2500 sits at the corpus median so the gate separates.
    * Pure per-row column ops — classification runs at scan speed, the
    * rollup is the only (tiny) shuffle. */
  val qualityClassifier = GraftQuery(
    "q_quality_classifier",
    "integer linear quality classifier: per-doc score + keep/drop label",
    (s, dir) => {
      val ws = TF.words(col("text"))
      val stops = Seq("the", "a", "of", "and", "is")
      docs(s, dir)
        .withColumn("nw", size(ws).cast("long"))
        .withColumn("stop_cnt",
          stops.map(w => TF.markerCount(col("text"), w).cast("long"))
            .reduce(_ + _))
        .select(col("doc_id"), col("nw"),
          expr("(length(text) - nw + 1) * 1000 DIV nw").as("awl_milli"),
          expr("stop_cnt * 1000 DIV nw").as("stop_pm"),
          expr("""(length(text) - length(regexp_replace(text,
                 |  '[0-9]', ''))) * 1000 DIV length(text)""".stripMargin)
            .as("digit_pm"))
        .withColumn("score", expr(
          "stop_pm * 3 + awl_milli DIV 2 - digit_pm * 2 + least(nw, 500)"))
        .withColumn("label",
          when(col("score") >= 2500, "keep").otherwise("drop"))
        .orderBy("doc_id")
    },
    Some("""SELECT doc_id, nw, awl_milli, stop_pm, digit_pm,
           |  stop_pm * 3 + awl_milli // 2 - digit_pm * 2 +
           |    least(nw, 500) AS score,
           |  CASE WHEN stop_pm * 3 + awl_milli // 2 - digit_pm * 2 +
           |    least(nw, 500) >= 2500 THEN 'keep' ELSE 'drop' END
           |    AS label
           |FROM (
           |  SELECT doc_id, nw,
           |    (length(text) - nw + 1) * 1000 // nw AS awl_milli,
           |    len(list_filter(string_split(text, ' '),
           |      w -> w IN ('the', 'a', 'of', 'and', 'is'))) * 1000 // nw
           |      AS stop_pm,
           |    (length(text) - length(regexp_replace(text, '[0-9]', '',
           |      'g'))) * 1000 // length(text) AS digit_pm
           |  FROM (SELECT doc_id, text,
           |          CAST(len(string_split(text, ' ')) AS BIGINT) AS nw
           |        FROM documents))
           |ORDER BY doc_id""".stripMargin))

  /** Adaptive per-source length gate: discrete 5th/95th percentiles of
    * n_chars per source (percentile_disc — an ACTUAL corpus value, no
    * interpolation, so the threshold is integer-exact in both engines),
    * broadcast back as bounds. The aggregate sees one row per source;
    * the gate itself is map-side. This is how a curation run adapts its
    * length filter to each crawl source instead of one global cut. */
  val lengthGate = GraftQuery(
    "q_length_gate",
    "per-source adaptive length gate from discrete p5/p95 bounds",
    (s, dir) => {
      val bounds = docs(s, dir)
        .groupBy("source")
        .agg(
          // percentile_disc returns DOUBLE in Spark even over BIGINT
          // input; the value is an actual corpus element → exact cast
          expr("CAST(percentile_disc(0.05) WITHIN GROUP " +
            "(ORDER BY n_chars) AS BIGINT)").as("lo"),
          expr("CAST(percentile_disc(0.95) WITHIN GROUP " +
            "(ORDER BY n_chars) AS BIGINT)").as("hi"))
      docs(s, dir).select("source", "n_chars")
        .join(broadcast(bounds), "source")
        .groupBy("source")
        .agg(max("lo").as("lo"), max("hi").as("hi"),
          count(lit(1)).as("n_docs"),
          sum(when(col("n_chars").between(col("lo"), col("hi")), 1L)
            .otherwise(0L)).as("n_kept"))
        .orderBy("source")
    },
    Some("""WITH b AS (
           |  SELECT source, quantile_disc(n_chars, 0.05) AS lo,
           |    quantile_disc(n_chars, 0.95) AS hi
           |  FROM documents GROUP BY 1)
           |SELECT source, max(lo) AS lo, max(hi) AS hi,
           |  count(*) AS n_docs,
           |  CAST(sum(CASE WHEN n_chars BETWEEN lo AND hi
           |                THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
           |FROM documents JOIN b USING (source)
           |GROUP BY source ORDER BY source""".stripMargin))

  /** Language-ID confusion matrix: the audit table for q_text_langid —
    * declared vs predicted language counts. The prediction is the same
    * per-row marker-count CASE; the matrix aggregate shuffles only
    * |langs|² rows. */
  val langConfusion = GraftQuery(
    "q_lang_confusion",
    "declared-vs-predicted language confusion matrix",
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
        .groupBy("lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("lang", "pred_lang")
    },
    Some("""SELECT lang, pred_lang, count(*) AS n_docs
           |FROM (SELECT lang,
           |  CASE
           |    WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr
           |      AND c_en >= c_zh THEN 'en'
           |    WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh
           |      THEN 'de'
           |    WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es'
           |    WHEN c_fr >= c_zh THEN 'fr'
           |    ELSE 'zh' END AS pred_lang
           |  FROM (SELECT lang,
           |          len(list_filter(string_split(text, ' '),
           |            w -> w = 'the')) AS c_en,
           |          len(list_filter(string_split(text, ' '),
           |            w -> w = 'der')) AS c_de,
           |          len(list_filter(string_split(text, ' '),
           |            w -> w = 'el')) AS c_es,
           |          len(list_filter(string_split(text, ' '),
           |            w -> w = 'le')) AS c_fr,
           |          len(list_filter(string_split(text, ' '),
           |            w -> w = '的')) AS c_zh
           |        FROM documents))
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** BPE merge application (the tokenizer-apply shape): words split to
    * space-joined characters, then a fixed priority-ordered merge table
    * applied as chained replaces — exactly how a trained BPE vocab
    * tokenizes (left-to-right non-overlapping replace is identical in
    * Java and DuckDB). Per-doc token counts + compression vs raw
    * characters in per-mille. One explode + chained codegen'd string
    * ops + one doc-keyed aggregate — tokenization runs at scan speed,
    * which is what lets a 100 TB pipeline count tokens per document for
    * mix planning without a UDF. Merge table is a literal here; in
    * production it broadcasts. */
  val bpeTokens = GraftQuery(
    "q_bpe_tokens",
    "BPE merge-table tokenization: per-doc token counts + compression",
    (s, dir) => {
      val merges = Seq("t h" -> "th", "th e" -> "the", "i n" -> "in",
        "e r" -> "er", "a n" -> "an", "o n" -> "on", "r e" -> "re",
        "e n" -> "en")
      val mergedSql = merges.foldLeft("concat_ws(' ', split(w, ''))") {
        case (acc, (a, b)) => s"replace($acc, '$a', '$b')"
      }
      docs(s, dir)
        .select(col("doc_id"), explode(TF.words(col("text"))).as("w"))
        .select(col("doc_id"), length(col("w")).cast("long").as("nc"),
          size(split(expr(mergedSql), " ")).cast("long").as("nt"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_words"), sum("nc").as("n_chars"),
          sum("nt").as("bpe_tokens"))
        .withColumn("compression_pm",
          expr("bpe_tokens * 1000 DIV n_chars"))
        .orderBy("doc_id")
    },
    Some {
      val merges = Seq("t h" -> "th", "th e" -> "the", "i n" -> "in",
        "e r" -> "er", "a n" -> "an", "o n" -> "on", "r e" -> "re",
        "e n" -> "en")
      val mergedSql = merges.foldLeft(
        "array_to_string(string_split(w, ''), ' ')") {
        case (acc, (a, b)) => s"replace($acc, '$a', '$b')"
      }
      s"""SELECT doc_id, count(*) AS n_words,
         |  CAST(sum(length(w)) AS BIGINT) AS n_chars,
         |  CAST(sum(len(string_split($mergedSql, ' '))) AS BIGINT)
         |    AS bpe_tokens,
         |  CAST(sum(len(string_split($mergedSql, ' '))) AS BIGINT)
         |    * 1000 // CAST(sum(length(w)) AS BIGINT) AS compression_pm
         |FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
         |      FROM documents)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin
    })

  /** TRAINED linear classifier over token counts — the fastText /
    * log-count-ratio family every production curation stack runs (quality
    * and language filters in CCNet, RefinedWeb, DCLM are exactly this
    * shape: train a cheap linear model on in-corpus labels, score every
    * document with it). Complements [[qualityClassifier]], whose weights
    * are hand-set: here the weights are LEARNED from the corpus's own
    * `lang` labels — a binary is-English Naive-Bayes-style model.
    *
    * Training = one token-count aggregation: per-word positive/negative
    * occurrence counts plus class totals. The per-word weight is the
    * Laplace-smoothed class likelihood ratio, kept in EXACT integer
    * per-mille form (the monotone quantity under the NB log; the repo's
    * standard integer restatement so the oracle is bit-exact):
    *
    *   r(w) = ((pos+1) * (Nneg+V) * 1000) DIV ((neg+1) * (Npos+V))
    *
    * Scoring = mean ratio over the document's tokens; predict `en` when
    * the mean ≥ 1000 (ratio ≥ 1). At scale: train is one hash-agg
    * shuffle over (doc,word) counts; class totals are a 1-row broadcast
    * (no driver collect); scoring is one shuffle_hash join of the count
    * frame against the weight table — the same measured shape as
    * [[rarityScore]]. Reported per doc with the true label so the result
    * doubles as the model's confusion surface. */
  val nbClassifier = GraftQuery(
    "q_nb_classifier",
    "trained log-count-ratio language classifier (integer NB weights)",
    (s, dir) => {
      // One explode pass → (doc, lang, word) counts, checkpointed once:
      // the weight table, the class totals, and the scoring join all
      // derive from this compact frame (one row per distinct word/doc).
      val tf = docs(s, dir)
        .select(col("doc_id"), col("lang"),
          explode(TF.words(col("text"))).as("w"))
        .groupBy("doc_id", "lang", "w").agg(count(lit(1)).as("tf"))
        .localCheckpoint(true)
      val stats = tf.groupBy("w").agg(
        sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("pos"),
        sum(when(col("lang") === "en", 0L).otherwise(col("tf"))).as("neg"))
      val tot = tf.agg(
        sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("npos"),
        sum(when(col("lang") === "en", 0L).otherwise(col("tf"))).as("nneg"),
        countDistinct("w").as("v"))
      val weights = stats.crossJoin(broadcast(tot))
        .select(col("w"), expr(
          "(pos + 1) * (nneg + v) * 1000 DIV ((neg + 1) * (npos + v))")
          .as("r"))
      tf.join(weights.hint("shuffle_hash"), "w")
        .groupBy("doc_id")
        .agg(sum("tf").as("n_tokens"),
          sum(col("tf") * col("r")).as("rsum"),
          max("lang").as("lang1"))
        .select(col("doc_id"), col("n_tokens"),
          expr("rsum DIV n_tokens").as("score_milli"),
          expr("CASE WHEN rsum DIV n_tokens >= 1000 " +
            "THEN 'en' ELSE 'other' END").as("pred"),
          expr("CASE WHEN lang1 = 'en' THEN 'en' ELSE 'other' END")
            .as("actual"))
        .orderBy("doc_id")
    },
    Some("""WITH occ AS (SELECT doc_id, lang,
           |         unnest(string_split(text, ' ')) AS w FROM documents),
           |tf AS (SELECT doc_id, lang, w, count(*) AS tf
           |       FROM occ GROUP BY 1, 2, 3),
           |st AS (SELECT w,
           |    CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END)
           |      AS BIGINT) AS pos,
           |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE tf END)
           |      AS BIGINT) AS neg
           |  FROM tf GROUP BY 1),
           |tot AS (SELECT
           |    CAST(sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END)
           |      AS BIGINT) AS npos,
           |    CAST(sum(CASE WHEN lang = 'en' THEN 0 ELSE tf END)
           |      AS BIGINT) AS nneg,
           |    CAST(count(DISTINCT w) AS BIGINT) AS v
           |  FROM tf),
           |w8 AS (SELECT w,
           |    (pos + 1) * (nneg + v) * 1000 // ((neg + 1) * (npos + v))
           |      AS r
           |  FROM st CROSS JOIN tot)
           |SELECT t.doc_id,
           |  CAST(sum(t.tf) AS BIGINT) AS n_tokens,
           |  CAST(sum(t.tf * r) AS BIGINT) // CAST(sum(t.tf) AS BIGINT)
           |    AS score_milli,
           |  CASE WHEN CAST(sum(t.tf * r) AS BIGINT)
           |         // CAST(sum(t.tf) AS BIGINT) >= 1000
           |       THEN 'en' ELSE 'other' END AS pred,
           |  CASE WHEN max(t.lang) = 'en' THEN 'en' ELSE 'other' END
           |    AS actual
           |FROM tf t JOIN w8 USING (w)
           |GROUP BY t.doc_id ORDER BY t.doc_id""".stripMargin))

  /** Bigram language-model scoring — the CCNet-style perplexity filter
    * (Wenzek et al. 2020: score each document under an n-gram LM trained
    * on the corpus, gate on the score). The LM here is the corpus's own
    * bigram model; the per-bigram cost is the INVERSE conditional
    * probability in exact integer per-mille form,
    *
    *   cost(prev,w) = c(prev) * 1000 DIV c(prev,w)
    *
    * (the monotone integer stand-in for −log P(w|prev); c(prev) counts
    * occurrences as a bigram CONTEXT so Σ_w P(w|prev) = 1 exactly), and
    * the document score is the mean cost over its bigrams — a true
    * integer perplexity proxy, CONDITIONAL where [[rarityScore]] is
    * marginal: a document of individually common words in improbable
    * order scores high here and low there.
    *
    * At scale: bigram extraction is a per-row array transform (zero
    * shuffle), model "training" is one hash-agg over (prev,w), scoring
    * is two shuffle_hash joins against count tables keyed by the same
    * prev — Catalyst reuses the exchange. Documents with fewer than two
    * words have no bigrams and drop out (documented; they carry no LM
    * evidence). */
  val bigramLm = GraftQuery(
    "q_bigram_lm",
    "bigram-LM perplexity-proxy scoring (integer conditional costs)",
    (s, dir) => {
      // Per-(doc, bigram) counts come from the shared [[TokenStats]]
      // stage (also feeds q_repetition_filter's duplicate-bigram signal).
      val tf = TokenStats.bigrams(s, dir)
      // Corpus counts roll up from tf (c2) and from c2 (c1 = Σ_w c2), and
      // the conditional cost is resolved at the TYPE level first — the
      // big doc×type frame then shuffles once (its (prev,w) join) instead
      // of twice, and the c1 pass reads |types| rows, not |doc×type|.
      val c2 = tf.groupBy("prev", "w").agg(sum("tf").as("c2"))
      val c1 = c2.groupBy("prev").agg(sum("c2").as("c1"))
      val typeCost = c2.join(c1.hint("shuffle_hash"), Seq("prev"))
        .select(col("prev"), col("w"),
          expr("c1 * 1000 DIV c2").as("cost"))
      tf.join(typeCost.hint("shuffle_hash"), Seq("prev", "w"))
        .groupBy("doc_id")
        .agg(sum("tf").as("n_bigrams"),
          sum(col("tf") * col("cost")).as("cost_sum"))
        .select(col("doc_id"), col("n_bigrams"),
          expr("cost_sum DIV n_bigrams").as("ppl_milli"))
        .orderBy("doc_id")
    },
    Some("""WITH d AS (SELECT doc_id, string_split(text, ' ') AS l
           |           FROM documents),
           |idx AS (SELECT doc_id, l,
           |          unnest(generate_series(1, len(l) - 1)) AS i FROM d),
           |bg AS (SELECT doc_id, l[i] AS prev, l[i + 1] AS w FROM idx),
           |tf AS (SELECT doc_id, prev, w, count(*) AS tf
           |       FROM bg GROUP BY 1, 2, 3),
           |c2 AS (SELECT prev, w, CAST(sum(tf) AS BIGINT) AS c2
           |       FROM tf GROUP BY 1, 2),
           |c1 AS (SELECT prev, CAST(sum(tf) AS BIGINT) AS c1
           |       FROM tf GROUP BY 1)
           |SELECT t.doc_id, CAST(sum(t.tf) AS BIGINT) AS n_bigrams,
           |  CAST(sum(t.tf * (c1 * 1000 // c2)) AS BIGINT)
           |    // CAST(sum(t.tf) AS BIGINT) AS ppl_milli
           |FROM tf t JOIN c2 USING (prev, w) JOIN c1 USING (prev)
           |GROUP BY 1 ORDER BY 1""".stripMargin))

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 §4.3): split
    * each LANGUAGE's documents into head/middle/tail terciles of an LM
    * score — the selection signal CCNet feeds downstream ("train on
    * head+middle, drop tail"). The score is the integer unigram-rarity
    * perplexity proxy ([[rarityScore]]'s formulation); the tercile
    * assignment is ntile(3) over a PER-LANGUAGE window (partitioned —
    * never a global sort) with a total tie-break so both engines agree.
    * At 100 TB the cutpoints would come from per-language approximate
    * quantile sketches (two values per language, q_approx_quantile's
    * machinery) instead of ranking every row; the exact ntile here keeps
    * the oracle bit-exact while the aggregate output (bucket stats, not
    * per-doc rows) is what the pipeline actually persists. */
  val perplexityBucket = GraftQuery(
    "q_perplexity_bucket",
    "CCNet head/middle/tail terciles per language on the LM-score proxy",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // Same shared stage as q_rarity_score — the scoring formulation is
      // identical; only the tercile window on top differs.
      val TokenStats.Unigrams(tfFrame, stats, total) =
        TokenStats.unigrams(s, dir)
      val scored = tfFrame
        .join(stats.hint("shuffle_hash"), "w")
        .groupBy("doc_id", "lang")
        .agg(expr(s"sum(tf * ($total DIV wc)) DIV sum(tf)").as("score"))
      scored
        .withColumn("bucket", ntile(3).over(Window.partitionBy("lang")
          .orderBy(col("score").asc, col("doc_id").asc)))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"), sum("score").as("sum_score"))
        .orderBy("lang", "bucket")
    },
    Some("""WITH occ AS (
           |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
           |  FROM documents),
           |stats AS (SELECT w, count(*) AS wc FROM occ GROUP BY 1),
           |total AS (SELECT count(*) AS t FROM occ),
           |tf AS (SELECT doc_id, lang, w, count(*) AS tf
           |       FROM occ GROUP BY 1, 2, 3),
           |scored AS (
           |  SELECT doc_id, lang,
           |    CAST(sum(tf * (t // wc)) AS BIGINT)
           |      // CAST(sum(tf) AS BIGINT) AS score
           |  FROM tf JOIN stats USING (w), total GROUP BY 1, 2),
           |b AS (SELECT lang, score, ntile(3) OVER (PARTITION BY lang
           |        ORDER BY score, doc_id) AS bucket
           |      FROM scored)
           |SELECT lang, bucket, count(*) AS n_docs,
           |  CAST(sum(score) AS BIGINT) AS sum_score
           |FROM b GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin))

  /** The composed five-stage curation run ([[graft.operators
    * .CurationPipeline]]) as an oracled query: the audit funnel itself
    * is the compared output, so the ORDER and INTERACTION of the
    * stages — not just each stage alone — is pinned against a DuckDB
    * replay of the full chain (exact dedup → MinHash-LSH near-dup with
    * Jaccard ≥ 0.5 verify → length gate → repetition gate → 13-gram
    * decontamination vs the src19 benchmark split). Each CTE reuses
    * the same building blocks as the standalone stage queries. */
  val curationPipelineAudit = GraftQuery(
    "q_curation_pipeline",
    "composed 5-stage curation funnel audit (the end-to-end pipeline)",
    (s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(col("source") =!= "src19")
        .select("doc_id", "text")
      val bench = d.filter(col("source") === "src19")
        .select("doc_id", "text")
      val (_, audits) =
        graft.operators.CurationPipeline.run(corpus, bench)
      import s.implicits._
      audits.map(a => (a.ord, a.stage, a.docsIn, a.docsOut))
        .toDF("ord", "stage", "docs_in", "docs_out")
        .orderBy("ord")
    },
    Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents
            |               WHERE source <> 'src19'),
            |bench AS (SELECT doc_id, text FROM documents
            |          WHERE source = 'src19'),
            |k1 AS (SELECT doc_id, text FROM (
            |    SELECT doc_id, text, row_number() OVER (
            |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
            |    FROM corpus) WHERE rn = 1),
            |w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM k1),
            |bandkeys AS (
            |  ${TF.minhashBandsDuckSql("doc_id",
                 "list_transform(generate_series(1, len(ws) - 2), " +
                   "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])",
                 "w", "WHERE len(ws) >= 3", k = 32, bands = 8,
                 rowsPerBand = 4)}
            |),
            |mins AS (SELECT band, key, min(doc_id) AS d1
            |         FROM bandkeys GROUP BY 1, 2),
            |cand AS (SELECT DISTINCT m.d1, b.doc_id AS d2
            |         FROM bandkeys b JOIN mins m USING (band, key)
            |         WHERE b.doc_id > m.d1),
            |sh3 AS (SELECT DISTINCT doc_id, s
            |        FROM (SELECT doc_id, unnest(list_transform(
            |                generate_series(1, len(ws) - 2),
            |                i -> ws[i] || ' ' || ws[i+1] || ' ' ||
            |                  ws[i+2])) AS s
            |              FROM w WHERE len(ws) >= 3)),
            |c3 AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY 1),
            |itr AS (SELECT c.d1, c.d2, count(*) AS inter
            |        FROM cand c JOIN sh3 a ON a.doc_id = c.d1
            |        JOIN sh3 b ON b.doc_id = c.d2 AND b.s = a.s
            |        GROUP BY 1, 2),
            |ver AS (SELECT i.d1, i.d2 FROM itr i
            |        JOIN c3 ca ON ca.doc_id = i.d1
            |        JOIN c3 cb ON cb.doc_id = i.d2
            |        WHERE i.inter * 2 >= ca.n + cb.n - i.inter),
            |k2 AS (SELECT * FROM k1
            |       WHERE doc_id NOT IN (SELECT d2 FROM ver)),
            |k3 AS (SELECT * FROM k2
            |       WHERE len(string_split(text, ' '))
            |         BETWEEN 20 AND 1000),
            |wc AS (SELECT doc_id, max(c) AS top,
            |         CAST(sum(c) AS BIGINT) AS n
            |       FROM (SELECT doc_id, s, count(*) AS c
            |             FROM (SELECT doc_id,
            |                     unnest(string_split(text, ' ')) AS s
            |                   FROM k3) GROUP BY 1, 2) GROUP BY 1),
            |k4 AS (SELECT k3.doc_id, k3.text FROM k3
            |       JOIN wc USING (doc_id)
            |       WHERE top * 1000 // n <= 140),
            |bg0 AS (SELECT string_split(text, ' ') AS ws FROM bench),
            |bg AS (SELECT DISTINCT ${TF.hash60DuckSql("g")} AS h
            |       FROM (SELECT unnest(list_distinct(list_transform(
            |               generate_series(1, len(ws) - 12),
            |               i -> array_to_string(ws[i:i+12], ' '))))
            |               AS g
            |             FROM bg0 WHERE len(ws) >= 13)),
            |tg0 AS (SELECT doc_id, string_split(text, ' ') AS ws
            |        FROM k4),
            |tg AS (SELECT DISTINCT doc_id, ${TF.hash60DuckSql("g")} AS h
            |       FROM (SELECT doc_id, unnest(list_distinct(
            |               list_transform(
            |               generate_series(1, len(ws) - 12),
            |               i -> array_to_string(ws[i:i+12], ' '))))
            |               AS g
            |             FROM tg0 WHERE len(ws) >= 13)),
            |bad AS (SELECT DISTINCT doc_id FROM tg
            |        WHERE h IN (SELECT h FROM bg)),
            |k5 AS (SELECT * FROM k4
            |       WHERE doc_id NOT IN (SELECT doc_id FROM bad))
            |SELECT * FROM (
            |  SELECT 1 AS ord, 'exact_dedup' AS stage,
            |    (SELECT count(*) FROM corpus) AS docs_in,
            |    (SELECT count(*) FROM k1) AS docs_out
            |  UNION ALL SELECT 2, 'near_dedup',
            |    (SELECT count(*) FROM k1), (SELECT count(*) FROM k2)
            |  UNION ALL SELECT 3, 'length_gate',
            |    (SELECT count(*) FROM k2), (SELECT count(*) FROM k3)
            |  UNION ALL SELECT 4, 'repetition_gate',
            |    (SELECT count(*) FROM k3), (SELECT count(*) FROM k4)
            |  UNION ALL SELECT 5, 'decontaminate',
            |    (SELECT count(*) FROM k4), (SELECT count(*) FROM k5))
            |ORDER BY ord""".stripMargin))

  /** The INCREMENTAL loop ([[graft.operators.CurationPipeline
    * .runIncrement]]) as an oracled query: the increment (src18) is
    * curated against the existing corpus (every other non-benchmark
    * source) — increment docs die against corpus content hashes and
    * corpus near-dups, the corpus itself is never re-judged. Same
    * audit-funnel-as-output contract as q_curation_pipeline. */
  val curationIncrementAudit = GraftQuery(
    "q_curation_increment",
    "incremental curation funnel: src18 increment vs existing corpus",
    (s, dir) => {
      val d = docs(s, dir)
      val corpus = d.filter(!col("source").isin("src18", "src19"))
        .select("doc_id", "text")
      val inc = d.filter(col("source") === "src18")
        .select("doc_id", "text")
      val bench = d.filter(col("source") === "src19")
        .select("doc_id", "text")
      val (_, audits) = graft.operators.CurationPipeline
        .runIncrement(corpus, inc, bench)
      import s.implicits._
      audits.map(a => (a.ord, a.stage, a.docsIn, a.docsOut))
        .toDF("ord", "stage", "docs_in", "docs_out")
        .orderBy("ord")
    },
    Some(s"""WITH corpus AS (SELECT doc_id, text FROM documents
            |  WHERE source NOT IN ('src18', 'src19')),
            |inc AS (SELECT doc_id, text FROM documents
            |        WHERE source = 'src18'),
            |bench AS (SELECT doc_id, text FROM documents
            |          WHERE source = 'src19'),
            |i1 AS (SELECT doc_id, text FROM (
            |    SELECT doc_id, text, row_number() OVER (
            |      PARTITION BY md5(text) ORDER BY doc_id) AS rn
            |    FROM inc) WHERE rn = 1),
            |k1 AS (SELECT * FROM i1 WHERE md5(text) NOT IN
            |       (SELECT md5(text) FROM corpus)),
            |wI AS (SELECT doc_id, string_split(text, ' ') AS ws
            |       FROM k1),
            |wC AS (SELECT doc_id, string_split(text, ' ') AS ws
            |       FROM corpus),
            |bkI AS (
            |  ${TF.minhashBandsDuckSql("doc_id",
                 "list_transform(generate_series(1, len(ws) - 2), " +
                   "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])",
                 "wI", "WHERE len(ws) >= 3", k = 32, bands = 8,
                 rowsPerBand = 4)}
            |),
            |bkC AS (
            |  ${TF.minhashBandsDuckSql("doc_id",
                 "list_transform(generate_series(1, len(ws) - 2), " +
                   "i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])",
                 "wC", "WHERE len(ws) >= 3", k = 32, bands = 8,
                 rowsPerBand = 4)}
            |),
            |minsI AS (SELECT band, key, min(doc_id) AS d1
            |          FROM bkI GROUP BY 1, 2),
            |cand AS (
            |  SELECT DISTINCT m.d1, b.doc_id AS d2
            |  FROM bkI b JOIN minsI m USING (band, key)
            |  WHERE b.doc_id > m.d1
            |  UNION
            |  SELECT DISTINCT min_c AS d1, d2 FROM (
            |    SELECT i.doc_id AS d2, i.band, min(c.doc_id) AS min_c
            |    FROM bkC c JOIN bkI i
            |      ON c.band = i.band AND c.key = i.key
            |    GROUP BY 1, 2)),
            |sh3 AS (
            |  SELECT DISTINCT doc_id, s FROM (
            |    SELECT doc_id, unnest(list_transform(
            |      generate_series(1, len(ws) - 2),
            |      i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) AS s
            |    FROM (SELECT * FROM wI UNION ALL SELECT * FROM wC)
            |    WHERE len(ws) >= 3)),
            |c3 AS (SELECT doc_id, count(*) AS n FROM sh3 GROUP BY 1),
            |itr AS (SELECT c.d1, c.d2, count(*) AS inter
            |        FROM cand c JOIN sh3 a ON a.doc_id = c.d1
            |        JOIN sh3 b ON b.doc_id = c.d2 AND b.s = a.s
            |        GROUP BY 1, 2),
            |ver AS (SELECT i.d1, i.d2 FROM itr i
            |        JOIN c3 ca ON ca.doc_id = i.d1
            |        JOIN c3 cb ON cb.doc_id = i.d2
            |        WHERE i.inter * 2 >= ca.n + cb.n - i.inter),
            |k2 AS (SELECT * FROM k1
            |       WHERE doc_id NOT IN (SELECT d2 FROM ver)),
            |k3 AS (SELECT * FROM k2
            |       WHERE len(string_split(text, ' '))
            |         BETWEEN 20 AND 1000),
            |wstat AS (SELECT doc_id, max(c) AS top,
            |         CAST(sum(c) AS BIGINT) AS n
            |       FROM (SELECT doc_id, s, count(*) AS c
            |             FROM (SELECT doc_id,
            |                     unnest(string_split(text, ' ')) AS s
            |                   FROM k3) GROUP BY 1, 2) GROUP BY 1),
            |k4 AS (SELECT k3.doc_id, k3.text FROM k3
            |       JOIN wstat USING (doc_id)
            |       WHERE top * 1000 // n <= 140),
            |bg AS (SELECT DISTINCT ${TF.hash60DuckSql("g")} AS h
            |       FROM (SELECT unnest(list_distinct(list_transform(
            |               generate_series(1, len(ws) - 12),
            |               i -> array_to_string(ws[i:i+12], ' '))))
            |               AS g
            |             FROM (SELECT string_split(text, ' ') AS ws
            |                   FROM bench)
            |             WHERE len(ws) >= 13)),
            |tg AS (SELECT DISTINCT doc_id, ${TF.hash60DuckSql("g")} AS h
            |       FROM (SELECT doc_id, unnest(list_distinct(
            |               list_transform(
            |               generate_series(1, len(ws) - 12),
            |               i -> array_to_string(ws[i:i+12], ' '))))
            |               AS g
            |             FROM (SELECT doc_id,
            |                     string_split(text, ' ') AS ws FROM k4)
            |             WHERE len(ws) >= 13)),
            |bad AS (SELECT DISTINCT doc_id FROM tg
            |        WHERE h IN (SELECT h FROM bg)),
            |k5 AS (SELECT * FROM k4
            |       WHERE doc_id NOT IN (SELECT doc_id FROM bad))
            |SELECT * FROM (
            |  SELECT 1 AS ord, 'exact_dedup' AS stage,
            |    (SELECT count(*) FROM inc) AS docs_in,
            |    (SELECT count(*) FROM k1) AS docs_out
            |  UNION ALL SELECT 2, 'near_dedup',
            |    (SELECT count(*) FROM k1), (SELECT count(*) FROM k2)
            |  UNION ALL SELECT 3, 'length_gate',
            |    (SELECT count(*) FROM k2), (SELECT count(*) FROM k3)
            |  UNION ALL SELECT 4, 'repetition_gate',
            |    (SELECT count(*) FROM k3), (SELECT count(*) FROM k4)
            |  UNION ALL SELECT 5, 'decontaminate',
            |    (SELECT count(*) FROM k4), (SELECT count(*) FROM k5))
            |ORDER BY ord""".stripMargin))

  val all: Seq[GraftQuery] = Seq(
    repetitionFilter, piiScrub, spanDedup, semDedup, keywordSearch,
    hybridRrf, mixPlan, dedupIncremental, annFiltered, rarityScore,
    trainSplit,
    dedupBloom, dedupChunk, qualityFunnel, qualityClassifier, lengthGate,
    langConfusion, bpeTokens, nbClassifier, bigramLm, perplexityBucket,
    curationPipelineAudit, curationIncrementAudit)
}
