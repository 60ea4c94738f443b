package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines.
  *
  * All of these are pure Catalyst column expressions (higher-order array
  * functions — codegen'd, no UDFs, no serialization boundary), so they
  * vectorize inside whole-stage codegen and scale linearly with the corpus:
  * at 100 TB each document row is processed independently — no shuffle at
  * all until an aggregation keys on the derived values.
  */
object TextFunctions {

  /** Whitespace tokenization (single-space convention of the corpus). */
  def words(text: Column): Column = split(text, " ")

  /** Count of an exact marker word among space-split tokens — equal to
    * `size(filter(split(text,' '), w => w === word))` but expressed as
    * one codegen'd regexp count instead of a higher-order array filter
    * (HOFs run INTERPRETED in Spark and materialize the token array per
    * marker; measured 5.0s → 0.3s on q_text_langid's five markers at
    * sf0.1). The text is space-padded so boundary tokens match, and the
    * trailing boundary is a lookahead so consecutive markers
    * ("the the") both count despite regex matches not overlapping. */
  def markerCount(text: Column, word: String): Column =
    regexp_count(concat(lit(" "), text, lit(" ")),
      lit(" " + java.util.regex.Pattern.quote(word) + "(?= )"))

  /** Regex token count (BPE-ish pre-tokenizer shape: letter runs). */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[a-z]+"))

  /** Contiguous word n-gram shingles, joined with single spaces. Empty
    * array when the document has fewer than n words. */
  def wordShingles(ws: Column, n: Int): Column = {
    val make = transform(sequence(lit(1), size(ws) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(ws, i + lit(k))): _*))
    when(size(ws) >= n, make).otherwise(array().cast("array<string>"))
  }

  /** Order-sensitive document fingerprint: position-weighted rolling sum of
    * per-word codes, mod 1e9+7. Integer-exact and associative-safe (the sum
    * is order-independent; position weights carry the order), so partial
    * aggregation at scale is exact. */
  def fingerprint(ws: Column): Column = {
    val codes = transform(ws, (w, i) =>
      (i + lit(1)).cast("bigint") *
        (length(w).cast("bigint") * 7 + ascii(substring(w, 1, 1))))
    pmod(aggregate(codes, lit(0L), (acc, x) => acc + x), lit(1000000007L))
  }

  /** SQL text of [[fingerprint]] for oracle parity (DuckDB: 1-based lambda
    * index, list_sum). */
  def fingerprintDuckSql(wsExpr: String): String =
    s"CAST(list_sum(list_transform($wsExpr, (x, i) -> " +
      s"i * (length(x) * 7 + ascii(substr(x, 1, 1))))) % 1000000007 AS BIGINT)"

  // ------------------------------------------------- portable 60-bit hashing
  //
  // All near-dup hashing lives in a NON-NEGATIVE 60-bit domain so that
  // every step is expressible IDENTICALLY in Spark SQL and DuckDB (the
  // correctness oracle): md5 is the shared base hash (xxhash64 has no
  // DuckDB twin), rotations are mask-then-shift (DuckDB's `<<` raises on
  // 64-bit overflow; values stay < 2^60 so nothing ever overflows or goes
  // negative in either engine), and right shifts of non-negative values
  // are plain integer division.

  /** First 15 hex chars of md5 → a 60-bit non-negative hash.
    * Engine-portable: both Spark's `conv` parse and DuckDB's
    * `CAST('0x'||… AS BIGINT)` yield the same integer. */
  def hash60Sql(e: String): String =
    s"CAST(conv(substr(md5($e), 1, 15), 16, 10) AS BIGINT)"

  /** DuckDB text of [[hash60Sql]]. */
  def hash60DuckSql(e: String): String =
    s"CAST('0x' || substr(md5($e), 1, 15) AS BIGINT)"

  /** Rotate-left by `s` within 60 bits, as mask+multiply+divide (all
    * overflow-free): low 60−s bits move up, high s bits wrap to the
    * bottom. Same text works in both engines except integer division
    * (`DIV` vs `//`), abstracted by `idiv`. */
  private def rotl60(v: String, s: Int, idiv: String): String =
    s"((($v) & ${(1L << (60 - s)) - 1}L) * ${1L << s}L + " +
      s"(($v) $idiv ${1L << (60 - s)}L))"

  private def rotl60Duck(v: String, s: Int): String =
    s"((($v) & ${(1L << (60 - s)) - 1}) * ${1L << s} + " +
      s"(($v) // ${1L << (60 - s)}))"

  /** Permutation i of a 60-bit hash: rotl60(h, i+1) XOR (i · golden32).
    * Bijective on the 60-bit domain; the XOR constant stays < 2^60 for
    * any realistic k, so results remain portable non-negative 60-bit. */
  private def permHashSql(h: String, i: Int): String =
    s"(${rotl60(h, i + 1, "DIV")} ^ ${i.toLong * 2654435769L}L)"

  private def permHashDuckSql(h: String, i: Int): String =
    s"xor(${rotl60Duck(h, i + 1)}, ${i.toLong * 2654435769L})"

  /** 60-bit SimHash over word hashes: majority vote per bit (tf-weighted).
    * Column-expression variant for small/streaming batches; the
    * distributed formulation is [[simhashSignatures]]. */
  def simhash(wsCol: String): Column = expr(
    s"""aggregate(
       |  transform($wsCol, w -> ${hash60Sql("w")}),
       |  array_repeat(0L, 60),
       |  (acc, h) -> zip_with(acc, sequence(0, 59), (a, b) ->
       |    a + CASE WHEN pmod(shiftrightunsigned(h, b), 2) = 1
       |        THEN 1L ELSE -1L END),
       |  acc -> aggregate(
       |    zip_with(acc, sequence(0, 59), (a, b) ->
       |      CASE WHEN a >= 0L THEN shiftleft(1L, b) ELSE 0L END),
       |    0L, (x, y) -> x + y))""".stripMargin)

  /** Distributed SimHash: the DataFrame-level formulation for large
    * corpora. Explode words → hash each occurrence once (codegen'd) →
    * ONE hash aggregate with 60 per-bit vote sums (occurrence-summed
    * votes ≡ tf-weighted votes, so no separate term-frequency pass) →
    * assemble the signature from the vote columns. One shuffle total, no
    * 60×-row bit explosion. Scales with cluster width; the Column variant
    * [[simhash]] remains for small/streaming batches.
    *
    * Why 60 aggregate expressions here while Ivf.mean deliberately avoids
    * a dims-wide aggregate: each vote is a constant-folded bit test on the
    * SAME long column (no per-slot array extraction), and the alternative
    * — exploding (id, bit) rows like Ivf's mean — multiplies the word-
    * occurrence row count ×60 before the shuffle. Measured at sf0.1
    * (NOTES.md "Wide-but-cheap aggregates"): 60-agg ≈ 0.45 s vs
    * explode-bit ≈ 3.3 s, so even if the wide aggregate drops out of
    * whole-stage codegen the row-volume saving dominates 8×. Ivf's tradeoff differs because its
    * input is already one row per (vector, dim) float and the aggregate
    * buffer there is dims×k cells, not 60 longs.
    *
    * Returns (idCol, simhash) one row per input row. */
  def simhashSignatures(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val occ = df
      .select(col(idCol), explode(words(col(textCol))).as("w"))
      .withColumn("h", expr(hash60Sql("w")))
    val votes = (0 until 60).map(b => sum(expr(
      s"CAST(((h DIV ${1L << b}L) & 1) AS BIGINT) * 2 - 1")).as(s"v$b"))
    occ.groupBy(idCol)
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 60).map(b =>
          when(col(s"v$b") >= 0, lit(1L << b)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** DuckDB replica of [[simhashSignatures]] as a CTE body: one signature
    * row per doc — `SELECT doc_id, sig FROM (…)`. */
  def simhashDuckSql(idCol: String, textCol: String, table: String)
      : String =
    s"""SELECT $idCol, CAST(sum(CASE WHEN vote >= 0
       |    THEN (1::BIGINT << bit) ELSE 0 END) AS BIGINT) AS sig
       |FROM (
       |  SELECT $idCol, bit, CAST(sum(tf * (CASE WHEN
       |      ((h // (1::BIGINT << bit)) & 1) = 1 THEN 1 ELSE -1 END))
       |      AS BIGINT) AS vote
       |  FROM (
       |    SELECT $idCol, ${hash60DuckSql("w")} AS h, tf
       |    FROM (SELECT $idCol, w, count(*) AS tf
       |          FROM (SELECT $idCol,
       |                  unnest(string_split($textCol, ' ')) AS w
       |                FROM $table)
       |          GROUP BY 1, 2)),
       |    (SELECT unnest(generate_series(0, 59)) AS bit)
       |  GROUP BY 1, 2)
       |GROUP BY 1""".stripMargin

  /** Distributed MinHash signatures — the scalable formulation. A lambda
    * version (`transform(perms, i -> array_min(transform(shingles, ...)))`)
    * is a trap twice over: higher-order lambdas run interpreted outside
    * codegen, AND Catalyst does not hoist the loop-invariant inner
    * hash-transform, so every permutation re-hashes every shingle. Here the
    * shingle set explodes to rows once, `xxhash64` runs once per shingle
    * inside codegen, and the k signature slots are k `min` aggregates of
    * cheap constant-folded bit permutations — one hash-aggregate shuffle,
    * arbitrarily wide corpus.
    *
    * Returns (idCol, sig: array<bigint>[k]). */
  def minhashSignaturesDf(df: org.apache.spark.sql.DataFrame, idCol: String,
      shingles: Column, k: Int): org.apache.spark.sql.DataFrame = {
    val sh = df
      .select(col(idCol), explode(array_distinct(shingles)).as("s"))
      .withColumn("h", expr(hash60Sql("s")))
    val mins = (0 until k).map(i =>
      min(expr(permHashSql("h", i))).as(s"m$i"))
    sh.groupBy(idCol)
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol),
        array((0 until k).map(i => col(s"m$i")): _*).as("sig"))
  }

  /** LSH band keys over a MinHash signature: `bands` keys, each a
    * rotate-xor fold of `rowsPerBand` consecutive signature slots seeded
    * with the band index. Docs sharing any (band, key) become near-dup
    * candidates — the equi-join key that replaces the quadratic all-pairs
    * comparison at scale. Portable 60-bit domain throughout. */
  def minhashBands(sigCol: String, bands: Int, rowsPerBand: Int): Column =
    expr(
      s"""transform(sequence(0, ${bands - 1}), bi ->
         |  aggregate(slice($sigCol, bi * $rowsPerBand + 1, $rowsPerBand),
         |    CAST(bi AS BIGINT),
         |    (acc, x) -> ${rotl60("acc", 5, "DIV")} ^ x))""".stripMargin)

  /** DuckDB replica of [[minhashSignaturesDf]] + [[minhashBands]] as a
    * CTE body yielding `(idCol, band, key)` rows. `shinglesExpr` must be a
    * DuckDB VARCHAR[] expression over `table`'s columns. */
  def minhashBandsDuckSql(idCol: String, shinglesExpr: String,
      table: String, where: String, k: Int, bands: Int, rowsPerBand: Int)
      : String = {
    val mins = (0 until k)
      .map(i => s"min(${permHashDuckSql("h", i)}) AS m$i").mkString(",\n    ")
    // Unrolled rotate-xor fold per band over its rowsPerBand slots.
    val bandRows = (0 until bands).map { bi =>
      val key = (0 until rowsPerBand).foldLeft(s"CAST($bi AS BIGINT)") {
        (acc, r) => s"xor(${rotl60Duck(acc, 5)}, m${bi * rowsPerBand + r})"
      }
      s"SELECT $idCol, $bi AS band, $key AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH sh AS (
       |  SELECT DISTINCT $idCol, s
       |  FROM (SELECT $idCol, unnest($shinglesExpr) AS s
       |        FROM $table $where)),
       |hx AS (SELECT $idCol, ${hash60DuckSql("s")} AS h FROM sh),
       |sig AS (SELECT $idCol,
       |    $mins
       |  FROM hx GROUP BY 1)
       |  $bandRows""".stripMargin
  }
}
