package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Dedup operator queries over `documents` / `embeddings`.
  *
  * The testdata plants ~28 near-dup pairs per 500 docs at word-3-gram
  * Jaccard ≈0.99 and nothing between 0.1 and 0.7, so a 0.7 threshold
  * separates cleanly and the MinHash-LSH candidate recall at j≈0.99 is
  * ≈1−10⁻¹⁸ — which is why d02 can share the exact-Jaccard SQL oracle
  * with d04. */
object DedupQueries {

  private def docs(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")

  /** The corpus NEAR-DUP PAIR LIST every pair-graph consumer builds on —
    * exact 3-shingle Jaccard pairs at the 0.5 FLOOR (df-cap 1e6), built
    * once per (session, corpus) as a shared checkpoint and filtered to
    * each caller's threshold. Validity: `threshold` in
    * [[Dedup.ngramJaccardPairs]] is a pure POST-filter on the exact
    * jaccard column (candidate generation and df-caps are
    * threshold-independent), so `pairs(0.5).filter(j >= t)` is
    * row-identical to `pairs(t)` for any t ≥ 0.5 — seventeen gates
    * (d04/d12/d13/d21/d26–d30, g02/g04/g05/g07/g08/g12, p25/p29, t29)
    * previously re-ran the same banded inverted-index join per gate; now
    * one pass feeds them all, which is also the honest production shape
    * (a pipeline materializes its pair table once and every audit reads
    * it). */
  private[queries] def neardupPairs(spark: SparkSession, dir: String,
      threshold: Double): DataFrame = {
    require(threshold >= 0.5,
      s"shared near-dup pair floor is 0.5, got $threshold — lower floors " +
        "need their own pass")
    val base = graft.SharedPrep.cached(spark, s"neardupPairs:$dir", dir) {
      graft.SharedPrep.checkpointShared(
        Dedup.ngramJaccardPairs(docs(spark, dir), "doc_id", "text",
          k = 3, threshold = 0.5, dfCap = 1000000))
    }
    if (threshold > 0.5) base.filter(col("jaccard") >= threshold) else base
  }

  // ---------------------------------------------------------------- d01
  /** Exact dedup: canonical (min) doc_id per identical text, grouped on
    * an md5 fingerprint so the shuffle is fixed-width (16 bytes) instead of
    * document-sized — the form that holds at 100 TB. */
  def d01ExactDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.exactCanonical(
      docs(spark, dir).withColumn("fp", md5(col("text").cast("binary"))),
      "doc_id", "fp")
      .select(col("canonical_id"), col("n_copies"))
      .orderBy("canonical_id")

  val d01Sql: String =
    """SELECT MIN(doc_id) AS canonical_id, COUNT(*) AS n_copies
      |FROM documents GROUP BY MD5(text) ORDER BY canonical_id""".stripMargin

  /** Shared exact-Jaccard oracle for d02/d04 (word-3-gram shingles, pairs
    * ≥ 0.7). DuckDB mirrors the operator: shingle lists → inverted-index
    * self-join → common counts → Jaccard. */
  private val jaccardPairsSql: String =
    """WITH toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |posting AS (SELECT doc_id, LEN(s) AS sz, UNNEST(s) AS shingle FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sza, b.sz AS szb,
      |         COUNT(*) AS common
      |  FROM posting a JOIN posting b USING (shingle)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b,
      |  ROUND(common::DOUBLE / (sza + szb - common)::DOUBLE, 6) AS jaccard
      |FROM pairs
      |WHERE common::DOUBLE / (sza + szb - common)::DOUBLE >= 0.7
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- d02
  /** MinHash-LSH near-dup pairs (128 hashes, 32 bands × 4 rows), verified
    * with exact Jaccard ≥ 0.7. */
  def d02MinhashLsh(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashLshPairs(docs(spark, dir), "doc_id", "text",
      numHashes = 128, bands = 32, k = 3, threshold = 0.7)
      .orderBy("id_a", "id_b")

  val d02Sql: String = jaccardPairsSql

  // ---------------------------------------------------------------- d03
  /** SimHash near-dup pairs within Hamming distance 3 (64-bit sketch,
    * 4×16-bit pigeonhole candidates). Oracle: full sketch mirror in DuckDB
    * — same shingling as the Jaccard oracle (duplicates KEPT: SimHash
    * weights by occurrence), FNV-1a64 per shingle via HUGEINT fold,
    * 64-bit majority vote, then brute-force pairs with bit_count(xor) ≤ 3.
    * The pigeonhole candidate step has full recall at Hamming ≤ 3, so the
    * brute-force oracle is semantics-equivalent. */
  def d03Simhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairs(spark, dir).orderBy("id_a", "id_b")

  /** The SimHash (k=3, Hamming ≤ 3) pair set — d03 EMITS it and d29
    * SCORES it against the Jaccard truth, so the sketch + pigeonhole
    * candidate pass runs once per (session, corpus) as a shared
    * checkpoint (the neardupPairs discipline). */
  private def simhashPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SharedPrep.cached(spark, s"simhashPairs:$dir", dir) {
      graft.SharedPrep.checkpointShared(
        Dedup.simhashPairs(docs(spark, dir), "doc_id", "text",
          k = 3, maxHamming = 3))
    }

  val d03Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents WHERE TRIM(text) <> ''),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |hs AS (
      |  SELECT doc_id, UNNEST(LIST_TRANSFORM(
      |    LIST_TRANSFORM(s, sg -> list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        [unicode(c)::HUGEINT for c in string_split(sg, '')]),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT)),
      |    u -> CAST(CASE WHEN u >= 9223372036854775808::HUGEINT
      |              THEN u - 18446744073709551616::HUGEINT
      |              ELSE u END AS BIGINT))) AS h
      |  FROM sh),
      |bits AS (
      |  SELECT doc_id, b,
      |    SUM(CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END) AS vote
      |  FROM hs CROSS JOIN (SELECT UNNEST(RANGE(0, 64)) AS b)
      |  GROUP BY doc_id, b),
      |sims AS (
      |  SELECT doc_id, CAST(SUM(CASE WHEN vote > 0 THEN
      |      CASE WHEN b = 63 THEN -9223372036854775808::HUGEINT
      |           ELSE (1::BIGINT << b)::HUGEINT END
      |    ELSE 0::HUGEINT END) AS BIGINT) AS simhash
      |  FROM bits GROUP BY doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
      |  CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
      |FROM sims a JOIN sims b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- d04
  /** Exact n-gram Jaccard pairs via inverted-index join (the no-sketch
    * baseline the approximate operators are judged against). */
  def d04NgramJaccard(spark: SparkSession, dir: String): DataFrame =
    neardupPairs(spark, dir, 0.7)
      .orderBy("id_a", "id_b")

  val d04Sql: String = jaccardPairsSql

  // ---------------------------------------------------------------- d05
  /** Embedding cosine near-dup: the corpus itself has no high-cosine pairs
    * (max ≈0.33), so the query plants one deterministic jittered copy per
    * 50th vector (id + 10⁶, jitter scaled by the SHIFTED id mod 7 — made
    * explicit via sequential withColumn; the original one-select form was
    * silently resolving the lambda's `vec_id` to the lateral alias) and
    * the operator must recover exactly those pairs via LSH banding +
    * exact-cosine verify ≥ 0.99.
    *
    * Oracle (converted from rows-only): the planted pairs' cosines are
    * pure double arithmetic — float→double casts are exact, the jitter is
    * double, and the cosine fold (dot / (√na·√nb), sequential order) is
    * bit-reproducible in DuckDB — and on this corpus the ≥ 0.99 set IS
    * the planted-pair set (everything else ≈0.33). The oracle therefore
    * also pins full banding recall on near-identical pairs: a banding
    * change that starts MISSING a planted copy fails the gate. */
  def d05EmbeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val jittered = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding", transform(col("embedding"),
        x => x + (pmod(col("vec_id"), lit(7)) - lit(3.0)) * lit(1e-4)))
      .select(col("vec_id"), col("embedding"))
    val union = emb.select(col("vec_id"), col("embedding")).unionByName(jittered)
    Dedup.embeddingNearDupPairs(union, "vec_id", "embedding",
      threshold = 0.99, bandBits = 12, bandCount = 4, seed = 42L)
      .orderBy("id_a", "id_b")
  }

  val d05Sql: String =
    """WITH pairs AS (
      |  SELECT s.vec_id AS id_a, s.vec_id + 1000000 AS id_b,
      |    LIST_TRANSFORM(s.embedding, x -> CAST(x AS DOUBLE)) AS va,
      |    LIST_TRANSFORM(s.embedding, x -> CAST(x AS DOUBLE)
      |      + ((s.vec_id + 1000000) % 7 - 3.0) * 0.0001) AS vb
      |  FROM embeddings s WHERE s.vec_id % 50 = 0),
      |scored AS (
      |  SELECT id_a, id_b,
      |    ROUND(
      |      LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(va) + 1), i -> va[i] * vb[i]))
      |      / (SQRT(LIST_SUM(LIST_TRANSFORM(va, x -> x * x)))
      |         * SQRT(LIST_SUM(LIST_TRANSFORM(vb, x -> x * x)))), 6) AS cos
      |  FROM pairs)
      |SELECT id_a, id_b, cos FROM scored
      |WHERE cos >= 0.99 ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- d06
  /** Corpus-vs-corpus overlap: per-`lang` MinHash-union signatures (custom
    * typed Aggregator with map-side combine) → pairwise estimated Jaccard.
    * The sketch is deterministic integer arithmetic, so the oracle mirrors
    * it EXACTLY in DuckDB (same technique as d03): FNV-1a64 per distinct
    * shingle via HUGEINT fold, the 128 splitmix64-mixed permutations
    * (64-bit multiplies done as 32×32 split products to stay inside
    * HUGEINT), per-(lang, j) signed MIN, then agreement fraction per lang
    * pair. est_jaccard is k/128 — exact in binary, so full-precision
    * compare is safe with no rounding on either side. ASCII corpus
    * assumption as d03/t06 (unicode(c) vs UTF-8 bytes). */
  def d06GroupSimilarity(spark: SparkSession, dir: String): DataFrame =
    graft.operators.GroupSimilarity
      .groupPairSimilarity(docs(spark, dir), "lang", "text")
      .orderBy("grp_a", "grp_b")

  val d06Sql: String =
    """WITH toks AS (
      |  SELECT lang, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents WHERE TRIM(text) <> ''),
      |sh AS (
      |  SELECT lang,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |base AS (
      |  SELECT DISTINCT lang, UNNEST(LIST_TRANSFORM(s, sg -> list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        [unicode(c)::HUGEINT for c in string_split(sg, '')]),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT))) AS b
      |  FROM sh),
      |seeds AS (
      |  SELECT j, ((j + 1)::HUGEINT * 11400714819323198485::HUGEINT)
      |           % 18446744073709551616::HUGEINT AS seed
      |  FROM (SELECT UNNEST(RANGE(0, 128)) AS j)),
      |m0 AS (SELECT lang, j, xor(b, seed) AS z FROM base CROSS JOIN seeds),
      |m1 AS (SELECT lang, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m0),
      |m2 AS (SELECT lang, j,
      |  ((z % 4294967296::HUGEINT) * 3981806797::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 4283543511::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 3981806797::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM m1),
      |m3 AS (SELECT lang, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m2),
      |m4 AS (SELECT lang, j,
      |  ((z % 4294967296::HUGEINT) * 444984403::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 3301882366::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 444984403::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM m3),
      |m5 AS (SELECT lang, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m4),
      |gsig AS (
      |  SELECT lang, j, MIN(CAST(CASE WHEN z >= 9223372036854775808::HUGEINT
      |      THEN z - 18446744073709551616::HUGEINT ELSE z END AS BIGINT)) AS sig
      |  FROM m5 GROUP BY lang, j)
      |SELECT a.lang AS grp_a, b.lang AS grp_b,
      |  SUM(CASE WHEN a.sig = b.sig THEN 1 ELSE 0 END)::DOUBLE / 128.0 AS est_jaccard
      |FROM gsig a JOIN gsig b ON a.j = b.j AND a.lang < b.lang
      |GROUP BY 1, 2 ORDER BY grp_a, grp_b""".stripMargin

  // ---------------------------------------------------------------- d07
  /** Substring/containment dedup: C(A,B) = |A∩B| / min(|A|,|B|) over
    * 3-gram shingles. The corpus's planted near-dups have high Jaccard AND
    * high containment; to exercise the case Jaccard MISSES, the query
    * plants an excerpt (first half of the words) of every 20th document
    * under id + 2·10⁶ — a true substring, so containment is exactly 1.0
    * while Jaccard is ≈0.5. The oracle rebuilds the identical corpus and
    * formula in SQL. */
  def d07Containment(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val t = split(trim(col("text")), "\\s+")
    val excerpts = d
      .filter(pmod(col("doc_id"), lit(20)) === 0 && size(t) >= 6)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat_ws(" ", slice(t, lit(1), (size(t) / 2).cast("int"))).as("text"))
    val corpus = d.select(col("doc_id"), col("text")).unionByName(excerpts)
    Dedup.ngramContainmentPairs(corpus, "doc_id", "text",
      k = 3, threshold = 0.9, dfCap = 1000000)
      .orderBy("id_a", "id_b")
  }

  val d07Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 2000000 AS doc_id,
      |         ARRAY_TO_STRING(t[1:CAST(LEN(t) // 2 AS BIGINT)], ' ') AS text
      |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
      |        FROM documents)
      |  WHERE doc_id % 20 = 0 AND LEN(t) >= 6),
      |toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM corpus),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |posting AS (SELECT doc_id, LEN(s) AS sz, UNNEST(s) AS shingle FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sza, b.sz AS szb,
      |         COUNT(*) AS common
      |  FROM posting a JOIN posting b USING (shingle)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4)
      |SELECT id_a, id_b,
      |  ROUND(common::DOUBLE / LEAST(sza, szb)::DOUBLE, 6) AS containment
      |FROM pairs
      |WHERE common::DOUBLE / LEAST(sza, szb)::DOUBLE >= 0.9
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- d09
  /** Benchmark decontamination: a planted "eval set" (first half of every
    * 25th document — the d07 excerpt construction) is used as the
    * blocklist; the operator must flag exactly the corpus documents whose
    * shingle containment against some blocklist entry is ≥ 0.4 — the
    * sources themselves (score ≈ 0.5) and their planted near-dup partners.
    * Exact integer counts + one IEEE division ⇒ full-precision oracle, no
    * rounding on either side. */
  def d09Decontamination(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val t = split(trim(col("text")), "\\s+")
    val blocklist = d
      .filter(pmod(col("doc_id"), lit(25)) === 0 && size(t) >= 6)
      .select(col("doc_id").as("block_id"),
        concat_ws(" ", slice(t, lit(1), (size(t) / 2).cast("int"))).as("text"))
    Dedup.contaminationFlags(d, "doc_id", "text",
      blocklist, "block_id", "text",
      k = 3, threshold = 0.4, dfCap = 1000000)
      .orderBy("doc_id")
  }

  val d09Sql: String =
    """WITH corpus_toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |csh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM corpus_toks WHERE LEN(t) >= 1),
      |bsrc AS (
      |  SELECT doc_id AS block_id,
      |         ARRAY_TO_STRING(t[1:CAST(LEN(t) // 2 AS BIGINT)], ' ') AS text
      |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
      |        FROM documents)
      |  WHERE doc_id % 25 = 0 AND LEN(t) >= 6),
      |btoks AS (
      |  SELECT block_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM bsrc),
      |bsh AS (
      |  SELECT block_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM btoks WHERE LEN(t) >= 1),
      |cpost AS (SELECT doc_id, LEN(s) AS sz, UNNEST(s) AS shingle FROM csh),
      |bpost AS (SELECT block_id, UNNEST(s) AS shingle FROM bsh),
      |hits AS (
      |  SELECT doc_id, block_id, sz, COUNT(*) AS common
      |  FROM cpost JOIN bpost USING (shingle)
      |  GROUP BY 1, 2, 3)
      |SELECT doc_id,
      |  MAX(common::DOUBLE / sz::DOUBLE) AS max_contamination,
      |  COUNT(*) AS n_hits
      |FROM hits
      |WHERE common::DOUBLE / sz::DOUBLE >= 0.4
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d10
  /** Exact duplicated-substring spans (word-8-gram floor): maximal runs of
    * corpus-duplicated 8-grams per document. The planted near-dup pairs
    * share nearly their whole text, so each member carries one long span
    * (~45 docs at sf0.001 … ~530 at sf0.1). Integer positions only —
    * full-precision oracle. */
  def d10SubstringSpans(spark: SparkSession, dir: String): DataFrame =
    Dedup.duplicateSpans(docs(spark, dir), "doc_id", "text", gramLen = 8)
      .orderBy("doc_id", "span_start")

  val d10Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents WHERE TRIM(text) <> ''),
      |occ AS (
      |  SELECT doc_id, UNNEST(RANGE(1, LEN(t) - 8 + 2)) AS p, t
      |  FROM toks WHERE LEN(t) >= 8),
      |grams AS (
      |  SELECT doc_id, p, ARRAY_TO_STRING(t[p:p+7], ' ') AS gram FROM occ),
      |dup AS (SELECT gram FROM grams GROUP BY gram HAVING COUNT(*) >= 2),
      |duppos AS (SELECT g.doc_id, g.p FROM grams g JOIN dup USING (gram)),
      |isl AS (
      |  SELECT doc_id, p,
      |    p - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY p) AS grp
      |  FROM duppos)
      |SELECT doc_id, MIN(p) AS span_start, MAX(p) - MIN(p) + 8 AS span_len,
      |       COUNT(*) AS n_grams
      |FROM isl GROUP BY doc_id, grp
      |ORDER BY doc_id, span_start""".stripMargin

  // ---------------------------------------------------------------- d11
  /** Substring-level corpus cleaning: each duplicated 8-gram keeps its
    * global-min (doc_id, pos) occurrence; words covered only by
    * non-canonical occurrences are dropped and the survivors rejoined.
    * Output is one row per non-empty doc with the removed-word count and
    * the cleaned text — exact string equality against the DuckDB mirror. */
  def d11SubstringDedup(spark: SparkSession, dir: String): DataFrame =
    Dedup.substringDedup(docs(spark, dir), "doc_id", "text", gramLen = 8)
      .orderBy("doc_id")

  val d11Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents WHERE TRIM(text) <> ''),
      |occ AS (
      |  SELECT doc_id, UNNEST(RANGE(1, LEN(t) - 8 + 2)) AS p, t
      |  FROM toks WHERE LEN(t) >= 8),
      |grams AS (
      |  SELECT doc_id, p, doc_id * 8388608 + p AS pk,
      |         ARRAY_TO_STRING(t[p:p+7], ' ') AS gram FROM occ),
      |dup AS (
      |  SELECT gram, MIN(pk) AS min_pk FROM grams
      |  GROUP BY gram HAVING COUNT(*) >= 2),
      |noncanon AS (
      |  SELECT g.doc_id, g.p FROM grams g JOIN dup d USING (gram)
      |  WHERE g.pk <> d.min_pk),
      |covered AS (
      |  SELECT DISTINCT doc_id, pos FROM (
      |    SELECT doc_id, UNNEST(RANGE(p, p + 8)) AS pos FROM noncanon)),
      |words AS (
      |  SELECT doc_id, UNNEST(t) AS w, UNNEST(RANGE(1, LEN(t) + 1)) AS pos
      |  FROM toks),
      |kept AS (
      |  SELECT w.doc_id, w.w, w.pos
      |  FROM words w LEFT JOIN covered c
      |    ON w.doc_id = c.doc_id AND w.pos = c.pos
      |  WHERE c.pos IS NULL),
      |agg AS (
      |  SELECT doc_id, COUNT(*) AS n_kept,
      |         STRING_AGG(w, ' ' ORDER BY pos) AS cleaned
      |  FROM kept GROUP BY doc_id)
      |SELECT t.doc_id, LEN(t.t) - COALESCE(a.n_kept, 0) AS n_removed,
      |       COALESCE(a.cleaned, '') AS cleaned_text
      |FROM toks t LEFT JOIN agg a USING (doc_id)
      |ORDER BY t.doc_id""".stripMargin

  // ---------------------------------------------------------------- d12
  /** Duplicate-cluster formation: connected components over the exact
    * n-gram Jaccard ≥ 0.7 pair graph (same edges as d04), cluster label =
    * min doc_id reachable. Spark side: iterative hash-min propagation;
    * oracle: DuckDB recursive CTE computing the transitive closure. The
    * corpus's clusters happen to be cliques (up to 4 members), so the
    * multi-hop path is pinned separately by a planted-chain spec test
    * (LlmOpsSpec); the gate pins the grouping itself. */
  def d12DedupClusters(spark: SparkSession, dir: String): DataFrame =
    neardupClusters(spark, dir).orderBy("doc_id")

  /** The hash-min CC label table (doc_id, cluster_id) over the 0.7
    * near-dup graph — SIX gates consume it verbatim (d12 emits it;
    * d13/d21/d26 and p25/p29 group or join on it), so the iterative
    * label-propagation rounds run once per (session, corpus) as a shared
    * checkpoint (the tradeGraph discipline: a pipeline materializes its
    * cluster assignment once and every audit reads it). d30 deliberately
    * keeps its OWN star-contraction run — proving the two algorithms
    * agree on real data is that gate's purpose. */
  private[queries] def neardupClusters(spark: SparkSession,
      dir: String): DataFrame =
    graft.SharedPrep.cached(spark, s"neardupClusters:$dir", dir) {
      graft.SharedPrep.checkpointShared(
        graft.operators.DedupClusters
          .connectedComponents(neardupPairs(spark, dir, 0.7), "id_a", "id_b")
          .select(col("id").as("doc_id"), col("label").as("cluster_id")))
    }

  val d12Sql: String =
    s"""WITH RECURSIVE pairs AS (
       |${d04Sql}
       |),
       |sym AS (
       |  SELECT id_a AS a, id_b AS b FROM pairs
       |  UNION ALL
       |  SELECT id_b AS a, id_a AS b FROM pairs),
       |reach(id, m) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM sym)
       |  UNION
       |  SELECT s.b, r.m FROM reach r JOIN sym s ON s.a = r.id)
       |SELECT id AS doc_id, MIN(m) AS cluster_id
       |FROM reach GROUP BY id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d30
  /** Duplicate clusters via ALTERNATING STAR CONTRACTION
    * ([[graft.operators.DedupClusters.connectedComponentsStar]], Kiveris
    * et al. SOCC'14) — the O(log d) deep-graph escalation path d12's
    * scaladoc promises, proven END TO END against the same recursive-CTE
    * closure oracle as the hash-min gate: identical pair graph, identical
    * (doc_id, cluster_id) contract, different algorithm. At 100 TB this
    * is the variant that survives a pathological chain graph where
    * hash-min's diameter-bound round count explodes. */
  def d30StarClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = neardupPairs(spark, dir, 0.7)
    graft.operators.DedupClusters
      .connectedComponentsStar(edges, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .orderBy("doc_id")
  }

  /** Same closure oracle as d12: component labels are algorithm-
    * independent (the component minimum), so the two gates pin
    * hash-min ≡ star-contraction on real data. */
  val d30Sql: String = d12Sql

  // ---------------------------------------------------------------- d13
  /** Cluster SURVIVOR selection — the step after d12 that real dedup ends
    * with: each near-dup cluster keeps exactly one member, chosen by
    * quality (t03's score) with doc_id as the deterministic tiebreak, and
    * the rest are dropped. One row per cluster: survivor, its quality,
    * member count.
    *
    * Scale shape: quality is row-local (computed only for clustered docs —
    * the labels join prunes first), the rank window partitions by
    * cluster_id (bounded by cluster size, never corpus size), and the
    * final rollup is a partial-aggregating groupBy on the same key. */
  def d13ClusterSurvivors(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, dir)
    val labels = neardupClusters(spark, dir)
    val quality = d.select(col("doc_id"),
      graft.operators.TextAnalysis.qualityScore(col("text")).as("q"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("q").desc, col("doc_id").asc)
    labels.join(quality, "doc_id")
      .withColumn("rn", row_number().over(w))
      .groupBy("cluster_id")
      .agg(count(lit(1)).as("n_members"),
        max(when(col("rn") === 1, col("doc_id"))).as("survivor_id"),
        max(when(col("rn") === 1, col("q"))).as("survivor_quality"))
      .orderBy("cluster_id")
  }

  /** Composes the d12 closure (nested WITH RECURSIVE) with t03's quality
    * mirror and the same (quality DESC, doc_id ASC) rank. */
  val d13Sql: String =
    s"""WITH labels AS (
       |${d12Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |qbase AS (
       |  SELECT doc_id, text,
       |    STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS w,
       |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
       |         ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\\s+')) END AS n_tok
       |  FROM documents),
       |qderived AS (
       |  SELECT doc_id,
       |    CASE WHEN LENGTH(text) = 0 THEN 0.0
       |         ELSE (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\\p{L}\\p{N}\\s]', '', 'g')))::DOUBLE
       |              / LENGTH(text)::DOUBLE END AS pr,
       |    CASE WHEN LEN(w) = 0 THEN 0.0
       |         ELSE LENGTH(REGEXP_REPLACE(LOWER(TRIM(text)), '\\s+', '', 'g'))::DOUBLE / LEN(w)::DOUBLE
       |    END AS mtl,
       |    n_tok
       |  FROM qbase),
       |q AS (
       |  SELECT doc_id,
       |    ROUND(
       |      (CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END) * 0.4
       |      + (1.0 - LEAST(pr * 5.0, 1.0)) * 0.3
       |      + (CASE WHEN mtl >= 3.0 AND mtl <= 12.0 THEN 1.0 ELSE 0.0 END) * 0.3,
       |      4) AS quality
       |  FROM qderived),
       |ranked AS (
       |  SELECT l.cluster_id, l.doc_id, q.quality,
       |    ROW_NUMBER() OVER (PARTITION BY l.cluster_id
       |                       ORDER BY q.quality DESC, l.doc_id ASC) AS rn
       |  FROM labels l JOIN q ON l.doc_id = q.doc_id)
       |SELECT cluster_id,
       |  COUNT(*) AS n_members,
       |  MAX(CASE WHEN rn = 1 THEN doc_id END) AS survivor_id,
       |  MAX(CASE WHEN rn = 1 THEN quality END) AS survivor_quality
       |FROM ranked GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  // ---------------------------------------------------------------- d14
  /** Edit-distance ≤ 1 fuzzy join on short title keys (first 20 chars):
    * every 25th doc gets a planted single-character-deletion typo copy
    * (id + 2·10⁶, deterministic position doc_id % 10 + 1), and the
    * deletion-neighborhood join must recover exactly those dist-1 pairs
    * plus any natural dist-0 prefix collisions. All string arithmetic is
    * positional/ASCII — the oracle mirrors the construction, the
    * neighborhood fan-out, and the levenshtein verify. */
  def d14FuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val t0 = docs(spark, dir)
      .filter(trim(col("text")) =!= "")
      .select(col("doc_id"),
        substring(lower(trim(col("text"))), 1, 20).as("title"))
    val pos = least(pmod(col("doc_id"), lit(10)) + 1, length(col("title")))
    val planted = t0
      .filter(pmod(col("doc_id"), lit(25)) === 0 && length(col("title")) > 1)
      .select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("title").substr(lit(1), pos - 1),
          col("title").substr(pos + 1, length(col("title")))).as("title"))
    Dedup.editDistance1Pairs(t0.union(planted), "doc_id", "title")
      .select(col("id_a"), col("id_b"), col("dist").cast("int").as("dist"))
      .orderBy("id_a", "id_b")
  }

  val d14Sql: String =
    """WITH t0 AS (
      |  SELECT doc_id, SUBSTR(LOWER(TRIM(text)), 1, 20) AS title
      |  FROM documents WHERE TRIM(text) <> ''),
      |planted AS (
      |  SELECT doc_id + 2000000 AS doc_id,
      |    SUBSTR(title, 1, LEAST(doc_id % 10 + 1, LENGTH(title)) - 1)
      |      || SUBSTR(title, LEAST(doc_id % 10 + 1, LENGTH(title)) + 1) AS title
      |  FROM t0 WHERE doc_id % 25 = 0 AND LENGTH(title) > 1),
      |uni AS (SELECT * FROM t0 UNION ALL SELECT * FROM planted),
      |vars AS (
      |  SELECT DISTINCT doc_id, v FROM (
      |    SELECT doc_id, UNNEST(LIST_TRANSFORM(
      |      RANGE(0, LENGTH(title) + 1),
      |      i -> SUBSTR(title, 1, i) || SUBSTR(title, i + 2))) AS v
      |    FROM uni)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      |  FROM vars a JOIN vars b ON a.v = b.v AND a.doc_id < b.doc_id)
      |SELECT c.id_a, c.id_b, LEVENSHTEIN(ta.title, tb.title)::INT AS dist
      |FROM cand c
      |JOIN uni ta ON ta.doc_id = c.id_a
      |JOIN uni tb ON tb.doc_id = c.id_b
      |WHERE LEVENSHTEIN(ta.title, tb.title) <= 1
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- d08
  /** STREAMING first-occurrence dedup, oracle-checked. Two excel batches
    * staged in controlled discovery order (per-batch admission → one
    * staged batch per micro-batch): batch a = docs with
    * doc_id % 3 = 0, batch b = ALL docs plus an exact copy of every 10th
    * doc under id + 10⁶. The fnv1a64-keyed stateful dedup must suppress
    * batch-b re-occurrences of batch-a keys (cross-batch state) and
    * resolve within-batch dups to the min doc_id (tiebreak). The winner
    * per distinct text is therefore: the min batch-a doc if the text
    * occurs in batch a, else the min doc overall — exactly the
    * ROW_NUMBER window in the oracle (the larger corpora DO contain
    * exact-dup texts whose only batch-a member is not the global min, so
    * the oracle genuinely distinguishes first-batch-wins from global-min
    * semantics). Planted copies can never win: they ride batch b with
    * ids above every original. */
  def d08StreamingDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val batch1 = d.filter(pmod(col("doc_id"), lit(3)) === 0)
    val copies = d.filter(pmod(col("doc_id"), lit(10)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    // per-batch admission: micro-batch 1 is exactly batch a, 2 exactly
    // batch b; within-batch dups resolve by the operator's min-doc_id
    // tiebreak, shard-split or not
    StreamGate.run(spark, dir, "graft_stream_dedup", StreamGate.PerBatch)(
        Seq(batch1, d.unionByName(copies))) { in =>
      in.read(d.schema)
        .withColumn("fp", graft.functions.TextExpressions.fnv1a64(col("text")))
        .transform(df =>
          graft.streaming.StreamingDedup.firstOccurrence(df, "fp", "doc_id"))
    }.table
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .orderBy("doc_id")
  }

  val d08Sql: String =
    """SELECT doc_id, fp FROM (
      |  SELECT doc_id, MD5(text) AS fp,
      |    ROW_NUMBER() OVER (PARTITION BY MD5(text)
      |      ORDER BY (doc_id % 3 <> 0), doc_id) AS rn
      |  FROM documents)
      |WHERE rn = 1 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d15
  /** SemDeDup semantic dedup over the embedding corpus + the d05 planted
    * jittered copies (the corpus alone has no high-cosine pairs): every
    * vector lands in an integer-LSH cell, in-cell pairs ≥ 0.95 cosine
    * mark their higher id as a duplicate, and the gate emits the full
    * per-vector (cell, kept) verdict.
    *
    * FULL oracle despite being an "approximate" operator — the cell
    * assignment is the s06 integer-arithmetic bucket (mirrored
    * bit-for-bit: floor(x·128) quantization, LCG coefficients, sign
    * bits), and the in-cell cosines are the d05 double-fold mirror — so
    * DuckDB reproduces cells, candidate pairs, and the survivor set
    * exactly, including any planted copy whose tiny jitter flips a sign
    * projection and lands it in a different cell (the documented
    * approximation: cross-cell pairs are never compared). */
  def d15SemanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val emb = spark.read.parquet(s"$dir/embeddings.parquet")
    val jittered = emb.filter(pmod(col("vec_id"), lit(50)) === 0)
      .withColumn("vec_id", col("vec_id") + 1000000L)
      .withColumn("embedding", transform(col("embedding"),
        x => x + (pmod(col("vec_id"), lit(7)) - lit(3.0)) * lit(1e-4)))
      .select(col("vec_id"), col("embedding"))
    val union = emb.select(col("vec_id"), col("embedding")).unionByName(jittered)
    Dedup.semanticDedup(union, "vec_id", "embedding",
      threshold = 0.95, cellBits = 8)
      .orderBy("vec_id")
  }

  /** Mirror: d05's jitter plant, s06's integer cell (band 0, 8 sign
    * bits), d05's double-fold cosine, the greedy lower-id survivor rule. */
  val d15Sql: String =
    """WITH u AS (
      |  SELECT vec_id, LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 1000000,
      |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)
      |      + ((vec_id + 1000000) % 7 - 3.0) * 0.0001)
      |  FROM embeddings WHERE vec_id % 50 = 0),
      |cells AS (
      |  SELECT vec_id, v,
      |    LIST_SUM(LIST_TRANSFORM(RANGE(0, 8), bit ->
      |      CASE WHEN LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(v) + 1), i ->
      |          CAST(FLOOR(v[i] * 128) AS BIGINT)
      |          * ((((bit * LEN(v) + (i - 1)) * 2654435761 + 40503) % 8191)
      |             - 4095)))
      |        >= 0 THEN 1 << bit ELSE 0 END)) AS cell
      |  FROM u),
      |play AS (
      |  SELECT cell FROM cells GROUP BY cell
      |  HAVING COUNT(*) BETWEEN 2 AND 100000),
      |dropped AS (
      |  SELECT DISTINCT b.vec_id
      |  FROM cells a
      |  JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  JOIN play p ON a.cell = p.cell
      |  WHERE ROUND(
      |      LIST_SUM(LIST_TRANSFORM(RANGE(1, LEN(a.v) + 1), i -> a.v[i] * b.v[i]))
      |      / (SQRT(LIST_SUM(LIST_TRANSFORM(a.v, x -> x * x)))
      |         * SQRT(LIST_SUM(LIST_TRANSFORM(b.v, x -> x * x)))), 6) >= 0.95)
      |SELECT c.vec_id, c.cell::BIGINT AS cell,
      |  c.vec_id NOT IN (SELECT vec_id FROM dropped) AS kept
      |FROM cells c ORDER BY c.vec_id""".stripMargin

  // ---------------------------------------------------------------- d16
  /** STREAMING near-dup detection, oracle-checked: the corpus arrives as
    * two id-ordered excel micro-batches (originals, then exact copies of
    * every 25th doc at id+10⁶); `StreamingDedup.nearDupHits` holds MinHash
    * signatures in (band, bucket)-keyed state and flags each arriving doc
    * against its bucket-mates. The gate reduces per-bucket hits to a
    * per-doc verdict (min dup_of) and left-joins the full corpus.
    *
    * FULL oracle: signatures are the d06 sketch mirror per doc (HUGEINT
    * FNV-1a fold + splitmix mix + per-(doc, perm) MIN), bucket-mates are
    * an exact band-slice-equality join (what the bucket hash key encodes),
    * est_j is an exact integer agreement count / 128 — so DuckDB replays
    * candidates, verdicts, and estimates bit-for-bit. Arrival order is id
    * order by construction (copies' ids exceed all originals; same-batch
    * ties resolve by id inside the operator), which is what makes the
    * streaming "earlier arrival" relation SQL-expressible as `a < b`. */
  def d16StreamingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir).select(col("doc_id"), col("text"))
    val copies = d.filter(pmod(col("doc_id"), lit(25)) === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    // per-batch admission: arrival ORDER is batch-level (micro-batch 1 =
    // a, 2 = b); within-batch ties already resolve by id in the operator
    val verdict = StreamGate.run(spark, dir, "graft_stream_neardup",
        StreamGate.PerBatch)(Seq(d, copies)) { in =>
      graft.streaming.StreamingDedup.nearDupHits(in.read(d.schema), "doc_id", "text")
    }.table
      .groupBy("doc_id")
      .agg(min(struct(col("dup_of"), col("est_j"))).as("m"))
      .select(col("doc_id"), col("m.dup_of").as("dup_of"),
        col("m.est_j").as("est_j"))
    d.unionByName(copies).select("doc_id")
      .join(verdict, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNotNull.as("is_dup"),
        col("dup_of"), col("est_j"))
      .orderBy("doc_id")
  }

  /** Mirror: d06's per-shingle FNV/splitmix sketch scoped per DOC, exact
    * band-slice equality for bucket-mates, integer agreement / 128. */
  val d16Sql: String =
    """WITH corpus AS (
      |  SELECT doc_id, text FROM documents
      |  UNION ALL
      |  SELECT doc_id + 1000000, text FROM documents WHERE doc_id % 25 = 0),
      |toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM corpus WHERE TRIM(text) <> ''),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |base AS (
      |  SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(s, sg -> list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        [unicode(c)::HUGEINT for c in string_split(sg, '')]),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT))) AS b
      |  FROM sh),
      |seeds AS (
      |  SELECT j, ((j + 1)::HUGEINT * 11400714819323198485::HUGEINT)
      |           % 18446744073709551616::HUGEINT AS seed
      |  FROM (SELECT UNNEST(RANGE(0, 128)) AS j)),
      |m0 AS (SELECT doc_id, j, xor(b, seed) AS z FROM base CROSS JOIN seeds),
      |m1 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m0),
      |m2 AS (SELECT doc_id, j,
      |  ((z % 4294967296::HUGEINT) * 3981806797::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 4283543511::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 3981806797::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM m1),
      |m3 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m2),
      |m4 AS (SELECT doc_id, j,
      |  ((z % 4294967296::HUGEINT) * 444984403::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 3301882366::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 444984403::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM m3),
      |m5 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m4),
      |dsig AS (
      |  SELECT doc_id, j, MIN(CAST(CASE WHEN z >= 9223372036854775808::HUGEINT
      |      THEN z - 18446744073709551616::HUGEINT ELSE z END AS BIGINT)) AS sig
      |  FROM m5 GROUP BY doc_id, j),
      |bnd AS (
      |  SELECT doc_id, j // 8 AS band,
      |    STRING_AGG(sig::VARCHAR, ',' ORDER BY j) AS bkey
      |  FROM dsig GROUP BY doc_id, j // 8),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      |  FROM bnd a JOIN bnd b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
      |est AS (
      |  SELECT c.ia, c.ib,
      |    SUM(CASE WHEN x.sig = y.sig THEN 1 ELSE 0 END)::DOUBLE / 128.0 AS est
      |  FROM cand c
      |  JOIN dsig x ON x.doc_id = c.ia
      |  JOIN dsig y ON y.doc_id = c.ib AND y.j = x.j
      |  GROUP BY 1, 2),
      |hit AS (
      |  SELECT ib AS doc_id, MIN(ia) AS dup_of
      |  FROM est WHERE est >= 0.9 GROUP BY ib)
      |SELECT c.doc_id, h.dup_of IS NOT NULL AS is_dup, h.dup_of,
      |  p.est AS est_j
      |FROM corpus c
      |LEFT JOIN hit h ON c.doc_id = h.doc_id
      |LEFT JOIN est p ON p.ia = h.dup_of AND p.ib = c.doc_id
      |ORDER BY c.doc_id""".stripMargin

  // ---------------------------------------------------------------- d17
  /** Paragraph-level exact dedup (C4/RefinedWeb-style): the synthetic
    * docs are single-line, so the gate manufactures paragraph structure
    * deterministically — 12-word chunks joined with blank lines — and
    * plants boilerplate paragraphs (a newsletter plea on every 7th doc, a
    * license footer on every 5th) that repeat corpus-wide exactly the way
    * web boilerplate does. The operator keeps only the first corpus-wide
    * occurrence of each repeated paragraph; DuckDB mirrors the
    * augmentation and the first-occurrence window verbatim. */
  def d17ParagraphDedup(spark: SparkSession, dir: String): DataFrame = {
    val ws = split(lower(trim(col("text"))), "\\s+")
    val chunked = array_join(
      transform(
        sequence(lit(0), floor((size(ws) - lit(1)) / lit(12)).cast("int")),
        i => array_join(slice(ws, i * lit(12) + lit(1), lit(12)), " ")),
      "\n\n")
    val aug = concat(
      chunked,
      when(pmod(col("doc_id"), lit(7)) === 0,
        lit("\n\nsubscribe to our newsletter for updates")).otherwise(lit("")),
      when(pmod(col("doc_id"), lit(5)) === 0,
        lit("\n\nall rights reserved")).otherwise(lit("")))
    Dedup.paragraphDedup(
      docs(spark, dir).select(col("doc_id"), aug.as("text")),
      "doc_id", "text")
      .orderBy("doc_id")
  }

  val d17Sql: String =
    """WITH base AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS ws
      |  FROM documents),
      |aug AS (
      |  SELECT doc_id,
      |    ARRAY_TO_STRING(LIST_TRANSFORM(RANGE(0, (LEN(ws)-1)//12 + 1),
      |      i -> ARRAY_TO_STRING(ws[i*12+1 : i*12+12], ' ')),
      |      CHR(10)||CHR(10))
      |    || CASE WHEN doc_id % 7 = 0 THEN
      |         CHR(10)||CHR(10)||'subscribe to our newsletter for updates'
      |       ELSE '' END
      |    || CASE WHEN doc_id % 5 = 0 THEN
      |         CHR(10)||CHR(10)||'all rights reserved' ELSE '' END AS t
      |  FROM base),
      |paras AS (
      |  SELECT doc_id, UNNEST(RANGE(0, LEN(ps))) AS pos, UNNEST(ps) AS para
      |  FROM (SELECT doc_id, STR_SPLIT(t, CHR(10)||CHR(10)) AS ps FROM aug)),
      |flagged AS (
      |  SELECT doc_id, pos, para,
      |    COUNT(*) OVER (PARTITION BY para) = 1
      |      OR (doc_id = FIRST_VALUE(doc_id) OVER w
      |          AND pos = FIRST_VALUE(pos) OVER w) AS keep
      |  FROM paras WHERE TRIM(para) <> ''
      |  WINDOW w AS (PARTITION BY para ORDER BY doc_id, pos))
      |SELECT doc_id, COUNT(*) AS n_paras,
      |  COUNT(*) FILTER (WHERE keep) AS n_kept,
      |  COALESCE(ARRAY_TO_STRING(LIST(para ORDER BY pos) FILTER (WHERE keep),
      |    CHR(10)||CHR(10)), '') AS cleaned_text
      |FROM flagged GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d18
  /** Bloom-filter decontamination ([[graft.operators.Bloom]]) — the
    * broadcast pre-filter variant of d09: the blocklist's word-trigram
    * set compresses to a fixed bit array probed ROW-LOCALLY by the
    * corpus (no corpus shuffle at all), and only bloom-positive grams
    * pay the exact verification join. Reports, per document, the
    * distinct-gram total, the bloom candidate count, and the exact
    * contaminated count — the gap between the last two IS the filter's
    * false-positive set, which the md5-derived positions make
    * deterministic enough to oracle-check bit-for-bit. */
  def d18BloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.Bloom
    val d = docs(spark, dir)
    val rawToks = split(trim(col("text")), "\\s+")
    val blockTexts = d
      .filter(pmod(col("doc_id"), lit(25)) === 0 && size(rawToks) >= 6)
      .select(concat_ws(" ",
        slice(rawToks, lit(1), (size(rawToks) / 2).cast("int"))).as("text"))
    val gramArr = expr(
      "case when size(t) >= 3 then " +
        "transform(sequence(0, size(t) - 3), " +
        "i -> concat_ws(' ', t[i], t[i+1], t[i+2])) " +
        "else array(array_join(t, ' ')) end")
    def grams(src: DataFrame, withId: Boolean): DataFrame = {
      val toks = src.withColumn("t", split(lower(trim(col("text"))), "\\s+"))
      if (withId)
        toks.select(col("doc_id"), explode(gramArr).as("gram"))
          .distinct()
      else
        toks.select(explode(gramArr).as("gram")).distinct()
    }
    // materialize both distinct-gram tables ONCE: corpusGrams feeds the
    // bloom probe AND the per-doc gram totals, blockGrams feeds the
    // filter build AND the exact-verify join — without the checkpoints
    // each consumer re-runs tokenize+explode+DISTINCT (an exchange) from
    // a fresh parquet scan (the r20 before-plan shows 8 scans). The
    // block table is the bounded eval-set artifact; the corpus table is
    // the per-doc signature table a production decontamination pass
    // persists anyway.
    val corpusGrams = grams(d, withId = true).localCheckpoint()
    val blockGrams = grams(blockTexts, withId = false).localCheckpoint()
    val filter = Bloom.build(blockGrams, "gram")
    // ONE pass over the bloom candidates: a left join against the
    // (distinct) block grams tags each surviving gram as an exact hit or
    // a bloom false-positive, so bloom-count and exact-count fall out of
    // a single aggregation. The previous shape aggregated cand twice
    // behind a persist that (never unpersisted) leaked a CacheManager
    // entry per call — CacheManager holds strong references, so a long
    // bench/driver session accumulated orphaned cache blocks.
    val cand = Bloom.candidates(corpusGrams, "doc_id", "gram", filter)
    val counts = cand
      .join(blockGrams.withColumn("__hit", lit(1)), Seq("gram"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bloom"), count(col("__hit")).as("n_exact"))
    val base = corpusGrams.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    base
      .join(counts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_bloom"), lit(0L)).as("n_bloom"),
        coalesce(col("n_exact"), lit(0L)).as("n_exact"))
      .withColumn("flagged", col("n_exact") > 0)
      .orderBy("doc_id")
  }

  val d18Sql: String =
    """WITH corpus_toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |csh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM corpus_toks),
      |cgrams AS (SELECT DISTINCT doc_id, UNNEST(s) AS gram FROM csh),
      |bsrc AS (
      |  SELECT ARRAY_TO_STRING(t[1:CAST(LEN(t) // 2 AS BIGINT)], ' ') AS text
      |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
      |        FROM documents)
      |  WHERE doc_id % 25 = 0 AND LEN(t) >= 6),
      |btoks AS (
      |  SELECT STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t FROM bsrc),
      |bsh AS (
      |  SELECT CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM btoks),
      |bgrams AS (SELECT DISTINCT UNNEST(s) AS gram FROM bsh),
      |bpos AS (
      |  SELECT ('0x' || SUBSTR(MD5(gram), i * 4 + 1, 4))::BIGINT % 65536 AS pos
      |  FROM (SELECT gram, UNNEST([0, 1, 2, 3]) AS i FROM bgrams)),
      |words AS (
      |  SELECT pos // 60 AS word_idx,
      |         BIT_OR(1::BIGINT << (pos % 60)::INT) AS bits
      |  FROM bpos GROUP BY 1),
      |cpos AS (
      |  SELECT doc_id, gram,
      |    ('0x' || SUBSTR(MD5(gram), i * 4 + 1, 4))::BIGINT % 65536 AS pos
      |  FROM (SELECT doc_id, gram, UNNEST([0, 1, 2, 3]) AS i FROM cgrams)),
      |cand AS (
      |  SELECT doc_id, gram
      |  FROM cpos JOIN words ON words.word_idx = cpos.pos // 60
      |  WHERE (words.bits >> (cpos.pos % 60)::INT) & 1 = 1
      |  GROUP BY 1, 2 HAVING COUNT(*) = 4),
      |nb AS (SELECT doc_id, COUNT(*) AS n_bloom FROM cand GROUP BY 1),
      |ne AS (SELECT doc_id, COUNT(*) AS n_exact
      |       FROM cand JOIN bgrams USING (gram) GROUP BY 1),
      |base AS (SELECT doc_id, COUNT(*) AS n_grams FROM cgrams GROUP BY 1)
      |SELECT base.doc_id, base.n_grams,
      |  COALESCE(nb.n_bloom, 0)::BIGINT AS n_bloom,
      |  COALESCE(ne.n_exact, 0)::BIGINT AS n_exact,
      |  COALESCE(ne.n_exact, 0) > 0 AS flagged
      |FROM base
      |LEFT JOIN nb ON nb.doc_id = base.doc_id
      |LEFT JOIN ne ON ne.doc_id = base.doc_id
      |ORDER BY base.doc_id""".stripMargin

  // ---------------------------------------------------------------- d19
  /** INCREMENTAL dedup — the daily-ingest shape production dedup actually
    * runs: yesterday's corpus is already deduped into a FINGERPRINT STORE
    * (16-byte md5 per distinct text — the store never holds documents),
    * and each new batch checks itself (a) against the store and (b)
    * within itself (first occurrence wins), without ever re-touching
    * historical text. Batch rows classify as `dup_of_history`,
    * `dup_in_batch`, or `unique`; only `unique` rows' fingerprints would
    * append to the store.
    *
    * Scale shape: the store probe is a fixed-width md5 equi-join (store
    * bucketed by fingerprint in production ⇒ co-located), the in-batch
    * check is a window over the BATCH only — history size never enters
    * any shuffle. New batches never reclassify old documents (no rank
    * against history, no count dependence). */
  def d19IncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val hist = d.filter(pmod(col("doc_id"), lit(10)) =!= 7)
      .select(md5(col("text").cast("binary")).as("fp"))
      .distinct()
      .withColumn("in_hist", lit(true))
    val batch = d.filter(pmod(col("doc_id"), lit(10)) === 7)
      .withColumn("fp", md5(col("text").cast("binary")))
      .withColumn("first_in_batch",
        min(col("doc_id")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("fp"))))
    batch
      .join(hist, Seq("fp"), "left")
      .select(col("doc_id"), col("fp"),
        when(coalesce(col("in_hist"), lit(false)), "dup_of_history")
          .when(col("doc_id") =!= col("first_in_batch"), "dup_in_batch")
          .otherwise("unique").as("status"))
      .orderBy("doc_id")
  }

  val d19Sql: String =
    """WITH hist AS (
      |  SELECT DISTINCT MD5(text) AS fp FROM documents WHERE doc_id % 10 <> 7),
      |batch AS (
      |  SELECT doc_id, MD5(text) AS fp,
      |    MIN(doc_id) OVER (PARTITION BY MD5(text)) AS first_in_batch
      |  FROM documents WHERE doc_id % 10 = 7)
      |SELECT b.doc_id, b.fp,
      |  CASE WHEN h.fp IS NOT NULL THEN 'dup_of_history'
      |       WHEN b.doc_id <> b.first_in_batch THEN 'dup_in_batch'
      |       ELSE 'unique' END AS status
      |FROM batch b LEFT JOIN hist h ON h.fp = b.fp
      |ORDER BY b.doc_id""".stripMargin

  // ---------------------------------------------------------------- d20
  /** INCREMENTAL NEAR-dup store ([[Dedup.incrementalNearDup]]) — d19's
    * daily-ingest shape upgraded from exact md5 fingerprints to MinHash
    * band buckets, so a new batch catches near-duplicates of history
    * without ever re-reading historical text: history (doc_id % 10 ≠ 7)
    * is signatured ONCE into the store (the artifact production
    * persists), the batch (doc_id % 10 = 7) probes the store's
    * (band, fnv-bucket-key) index by equi-join, verifies candidates with
    * the exact integer MinHash agreement (≥ 0.9), and checks itself the
    * same way (earlier id wins). The streaming twin is d16
    * (`StreamingDedup.nearDupHits`); this is the batch-ingest form.
    *
    * The gate runs with `bucketCap = 8` (the anti-boilerplate skew guard
    * mirroring the streaming twin's `bucketCap`): only the 8 lowest-id
    * members of any (band, bkey) bucket stay RESIDENT on the probed side,
    * in both history and in-batch joins.
    *
    * FULL oracle: the d16 sketch mirror (HUGEINT FNV shingle fold +
    * splitmix chain + per-(doc, perm) MIN) rebuilt per doc, band keys as
    * the FNV-1a64 of the comma-joined band slice (the store's actual
    * 8-byte key — both engines fold the identical string), est_j as the
    * exact agreement count / 128, residents via QUALIFY row_number() ≤ 8
    * per (band, bkey). */
  def d20IncrementalNearDup(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val store = Dedup.minhashSignatures(
      d.filter(pmod(col("doc_id"), lit(10)) =!= 7), "doc_id", "text")
    Dedup.incrementalNearDup(store,
      d.filter(pmod(col("doc_id"), lit(10)) === 7), "doc_id", "text",
      bucketCap = 8)
      .orderBy("doc_id")
  }

  val d20Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents WHERE TRIM(text) <> ''),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |base AS (
      |  SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(s, sg -> list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        [unicode(c)::HUGEINT for c in string_split(sg, '')]),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT))) AS b
      |  FROM sh),
      |seeds AS (
      |  SELECT j, ((j + 1)::HUGEINT * 11400714819323198485::HUGEINT)
      |           % 18446744073709551616::HUGEINT AS seed
      |  FROM (SELECT UNNEST(RANGE(0, 128)) AS j)),
      |m0 AS (SELECT doc_id, j, xor(b, seed) AS z FROM base CROSS JOIN seeds),
      |m1 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m0),
      |m2 AS (SELECT doc_id, j,
      |  ((z % 4294967296::HUGEINT) * 3981806797::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 4283543511::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 3981806797::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM m1),
      |m3 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m2),
      |m4 AS (SELECT doc_id, j,
      |  ((z % 4294967296::HUGEINT) * 444984403::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 3301882366::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 444984403::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM m3),
      |m5 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m4),
      |dsig AS (
      |  SELECT doc_id, j, MIN(CAST(CASE WHEN z >= 9223372036854775808::HUGEINT
      |      THEN z - 18446744073709551616::HUGEINT ELSE z END AS BIGINT)) AS sig
      |  FROM m5 GROUP BY doc_id, j),
      |bnd AS (
      |  SELECT doc_id, band,
      |    CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
      |         THEN f - 18446744073709551616::HUGEINT ELSE f END AS BIGINT)
      |      AS bkey
      |  FROM (
      |    SELECT doc_id, j // 8,
      |      list_reduce(list_prepend(14695981039346656037::HUGEINT,
      |        [unicode(c)::HUGEINT for c in
      |          string_split(STRING_AGG(sig::VARCHAR, ',' ORDER BY j), '')]),
      |        (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                    % 18446744073709551616::HUGEINT) AS f
      |    FROM dsig GROUP BY doc_id, j // 8) sub(doc_id, band, f)),
      |res_h AS (
      |  SELECT doc_id, band, bkey FROM bnd WHERE doc_id % 10 <> 7
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY band, bkey
      |                             ORDER BY doc_id) <= 8),
      |res_b AS (
      |  SELECT doc_id, band, bkey FROM bnd WHERE doc_id % 10 = 7
      |  QUALIFY ROW_NUMBER() OVER (PARTITION BY band, bkey
      |                             ORDER BY doc_id) <= 8),
      |sigl AS (SELECT doc_id, LIST(sig ORDER BY j) AS sl FROM dsig GROUP BY 1),
      |histc AS (
      |  SELECT DISTINCT b.doc_id AS bid, h.doc_id AS hid
      |  FROM bnd b JOIN res_h h ON b.band = h.band AND b.bkey = h.bkey
      |  WHERE b.doc_id % 10 = 7),
      |hest AS (
      |  SELECT c.bid, c.hid,
      |    ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 129),
      |      i -> CASE WHEN a.sl[i] = h.sl[i] THEN 1 ELSE 0 END))::DOUBLE
      |          / 128.0, 6) AS est
      |  FROM histc c
      |  JOIN sigl a ON a.doc_id = c.bid
      |  JOIN sigl h ON h.doc_id = c.hid
      |  WHERE LIST_SUM(LIST_TRANSFORM(RANGE(1, 129),
      |      i -> CASE WHEN a.sl[i] = h.sl[i] THEN 1 ELSE 0 END)) >= 116),
      |hhit AS (SELECT bid, MIN(hid) AS dup_of FROM hest GROUP BY 1),
      |batc AS (
      |  SELECT DISTINCT a.doc_id AS ia, b.doc_id AS ib
      |  FROM res_b a JOIN bnd b
      |    ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
      |  WHERE b.doc_id % 10 = 7),
      |best AS (
      |  SELECT c.ia, c.ib,
      |    ROUND(LIST_SUM(LIST_TRANSFORM(RANGE(1, 129),
      |      i -> CASE WHEN x.sl[i] = y.sl[i] THEN 1 ELSE 0 END))::DOUBLE
      |          / 128.0, 6) AS est
      |  FROM batc c
      |  JOIN sigl x ON x.doc_id = c.ia
      |  JOIN sigl y ON y.doc_id = c.ib
      |  WHERE LIST_SUM(LIST_TRANSFORM(RANGE(1, 129),
      |      i -> CASE WHEN x.sl[i] = y.sl[i] THEN 1 ELSE 0 END)) >= 116),
      |bhit AS (SELECT ib AS bid, MIN(ia) AS dup_of FROM best GROUP BY 1)
      |SELECT d.doc_id,
      |  CASE WHEN hh.dup_of IS NOT NULL THEN 'dup_of_history'
      |       WHEN bh.dup_of IS NOT NULL THEN 'dup_in_batch'
      |       ELSE 'unique' END AS status,
      |  COALESCE(hh.dup_of, bh.dup_of) AS dup_of,
      |  CASE WHEN hh.dup_of IS NOT NULL THEN he.est
      |       WHEN bh.dup_of IS NOT NULL THEN be.est END AS est_j
      |FROM documents d
      |LEFT JOIN hhit hh ON hh.bid = d.doc_id
      |LEFT JOIN bhit bh ON bh.bid = d.doc_id
      |LEFT JOIN hest he ON he.bid = d.doc_id AND he.hid = hh.dup_of
      |LEFT JOIN best be ON be.ib = d.doc_id AND be.ia = bh.dup_of
      |WHERE d.doc_id % 10 = 7
      |ORDER BY d.doc_id""".stripMargin

  // ---------------------------------------------------------------- d21
  /** SOFT dedup — downweight instead of drop: every document keeps a
    * sampling weight of 1/|its near-dup cluster| so each cluster
    * contributes one document's worth of total mass to the training mix
    * (the "keep one copy in expectation" policy pretraining pipelines
    * use when hard-dropping near-dups costs too much diversity).
    * Clusters are the d12 connected components over the exact n-gram
    * Jaccard ≥ 0.7 pair graph; singletons (docs in no cluster) weight 1.
    * Scale shape: the cluster-size table is |clustered docs| rows — a
    * partial-agg rollup of the label table — and joins back to the
    * corpus by doc_id, co-partitioned; the corpus text is never
    * reshuffled, only (doc_id, size) moves. */
  def d21SoftDedupWeights(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val labels = neardupClusters(spark, dir)
    val sized = labels.join(
      labels.groupBy("cluster_id").agg(count(lit(1)).as("cluster_size")),
      "cluster_id")
      .select(col("doc_id"), col("cluster_size"))
    d.select(col("doc_id"))
      .join(sized, Seq("doc_id"), "left")
      .withColumn("cluster_size", coalesce(col("cluster_size"), lit(1L)))
      .select(col("doc_id"), col("cluster_size"),
        round(lit(1.0d) / col("cluster_size").cast("double"), 6).as("weight"))
      .orderBy("doc_id")
  }

  /** d12's recursive closure rolled up to cluster sizes, left-joined back
    * over the whole corpus with a singleton default of 1. */
  val d21Sql: String =
    s"""WITH labels AS (
       |${d12Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |sz AS (SELECT cluster_id, COUNT(*) AS n FROM labels GROUP BY cluster_id),
       |j AS (
       |  SELECT d.doc_id, COALESCE(sz.n, 1) AS cluster_size
       |  FROM documents d
       |  LEFT JOIN labels l ON d.doc_id = l.doc_id
       |  LEFT JOIN sz ON l.cluster_id = sz.cluster_id)
       |SELECT doc_id, cluster_size::BIGINT AS cluster_size,
       |  ROUND(CAST(1 AS DOUBLE) / cluster_size::DOUBLE, 6) AS weight
       |FROM j ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d22
  /** Winnowing fingerprint matching ([[Dedup.winnowPairs]] — Schleimer
    * et al. 2003, the MOSS algorithm): ~2/(w+1) of each document's
    * 4-word-gram hashes are SELECTED (window minimum, rightmost tie) with
    * the guarantee that any shared run of ≥ w+k−1 words contributes a
    * common fingerprint; docs then match purely through the sampled
    * fingerprint table. Complements d02/d03 (whole-document sketches)
    * and d10 (exhaustive span marking) with the sampled-index middle
    * ground plagiarism detectors use. The selection is one window MIN
    * over a packed (40-bit hash, 20-bit reversed position) integer, so
    * the oracle replays every selection decision exactly. */
  def d22WinnowingPairs(spark: SparkSession, dir: String): DataFrame =
    Dedup.winnowPairs(docs(spark, dir), "doc_id", "text",
      k = 4, w = 4, dfCap = 100L, minShared = 3L)
      .orderBy("id_a", "id_b")

  val d22Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents WHERE TRIM(text) <> ''),
      |grams AS (
      |  SELECT doc_id,
      |    UNNEST(LIST_TRANSFORM(RANGE(1, GREATEST(LEN(t) - 4 + 1, 1) + 1),
      |      i -> {'p': i, 'g': ARRAY_TO_STRING(t[i:i+3], ' ')})) AS pg
      |  FROM toks),
      |g2 AS (SELECT doc_id, pg.p AS p, pg.g AS gram FROM grams),
      |hashed AS (
      |  SELECT doc_id, p,
      |    (list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        [unicode(c)::HUGEINT for c in string_split(gram, '')]),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT)
      |     % 1099511627776::HUGEINT)::BIGINT AS h40
      |  FROM g2),
      |packs AS (
      |  SELECT doc_id, p, h40 * 1048576 + (1048575 - p) AS pack
      |  FROM hashed),
      |win AS (
      |  SELECT doc_id, p,
      |    MIN(pack) OVER (PARTITION BY doc_id ORDER BY p
      |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
      |    COUNT(*) OVER (PARTITION BY doc_id) AS g
      |  FROM packs),
      |fps AS (
      |  SELECT DISTINCT doc_id, sel // 1048576 AS fp_hash
      |  FROM win WHERE p <= GREATEST(g - 3, 1)),
      |rare AS (
      |  SELECT fp_hash FROM fps GROUP BY fp_hash HAVING COUNT(*) <= 100)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*)::BIGINT AS n_shared
      |FROM fps a
      |JOIN rare r ON r.fp_hash = a.fp_hash
      |JOIN fps b ON b.fp_hash = a.fp_hash
      |WHERE a.doc_id < b.doc_id
      |GROUP BY 1, 2 HAVING COUNT(*) >= 3
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- d23
  /** LSH banding-parameter SWEEP — the tuning table an engineer reads
    * before fixing (bands, rows): for bands ∈ {8, 16, 32} over the SAME
    * 128-hash signatures, how many candidate pairs the band index
    * generates, how many true near-dup pairs (exact Jaccard ≥ 0.7, the
    * d04 ground truth) it catches, and the exact recall. More bands →
    * shorter band keys → more candidates and higher recall: the S-curve
    * trade made measurable. Signatures are computed ONCE
    * (localCheckpoint) and re-banded three ways — the 100 TB discipline
    * (the corpus is never re-shingled per configuration); candidate
    * joins ship only (band, 8-byte bkey, id).
    *
    * Fully oracled: the mirror replays signatures (the d20 HUGEINT
    * chain), all three band-key folds, every candidate join, and the
    * exact-Jaccard truth set. */
  def d23LshTuning(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    // planted MID-similarity probes (j ≈ 0.3–0.55, below the 0.7
    // threshold): every 20th doc gains a variant made of its first ⅔
    // words plus per-doc filler — the corpus itself has nothing between
    // 0.1 and 0.7, so without these every banding config measures
    // identically and the sweep is vacuous. Variant ids sit at
    // +10 000 000 (far above any fixture id; they carry no semantics —
    // only uniqueness matters)
    val variants = d
      .filter(pmod(col("doc_id"), lit(20)) === 0 &&
        trim(col("text")) =!= "")
      .withColumn("w", split(lower(trim(col("text"))), "\\s+"))
      .select((col("doc_id") + 10000000L).as("vid"),
        concat_ws(" ",
          array_join(expr(
            "slice(w, 1, greatest(cast((size(w) * 2) div 3 as int), 1))"),
            " "),
          concat(lit("zz"), col("doc_id"), lit("a")),
          concat(lit("zz"), col("doc_id"), lit("b")),
          concat(lit("zz"), col("doc_id"), lit("c")),
          concat(lit("zz"), col("doc_id"), lit("d")),
          concat(lit("zz"), col("doc_id"), lit("e"))).as("text"))
      .select(col("vid").as("doc_id"), col("text"))
    val corpus = d.select(col("doc_id"), col("text")).unionAll(variants)
    val sigs = Dedup.minhashSignatures(corpus, "doc_id", "text", 128, 3)
      .localCheckpoint()
    // ground truth stays the BASE corpus's ≥ 0.7 pairs — the planted
    // probes are designed sub-threshold, so they are pure candidate
    // noise the sweep should (and at few bands does) reject. Read from
    // the SHARED pair list (floor 0.5, row-identical to a direct ≥ 0.7
    // pass by the threshold-post-filter contract) instead of re-running
    // the Σdf² inverted-index pass — at 10× duplication that pass alone
    // was ~60% of this gate's wall time, paid twice per session for
    // byte-identical rows.
    val truePairs = neardupPairs(spark, dir, 0.7)
      .select(col("id_a"), col("id_b"))
    val rows = Seq(8, 16, 32).map { b =>
      val keys = Dedup.nearDupBandKeys(sigs, 128, b)
      val cand = keys.select(col("doc_id").as("ia"), col("band"),
        col("bkey"))
        .join(keys.select(col("doc_id").as("ib"), col("band"),
          col("bkey")), Seq("band", "bkey"))
        .filter(col("ia") < col("ib"))
        .select("ia", "ib").distinct()
      val caught = cand.join(truePairs,
        cand("ia") === truePairs("id_a") && cand("ib") === truePairs("id_b"),
        "left_semi")
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(caught.agg(count(lit(1)).as("n_caught")))
        .crossJoin(truePairs.agg(count(lit(1)).as("n_true")))
        .select(lit(b.toLong).as("bands"), col("n_candidates"),
          col("n_true"), col("n_caught"),
          expr("cast(n_caught * 1000000 div nullif(n_true, 0) as bigint)")
            .as("recall_micro"))
    }
    rows.reduce(_ unionAll _).orderBy("bands")
  }

  val d23Sql: String = {
    val perB = Seq(8, 16, 32).map { b =>
      val r = 128 / b
      s"""bnd$b AS (
         |  SELECT doc_id, band,
         |    CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
         |         THEN f - 18446744073709551616::HUGEINT ELSE f
         |         END AS BIGINT) AS bkey
         |  FROM (
         |    SELECT doc_id, j // $r,
         |      list_reduce(list_prepend(14695981039346656037::HUGEINT,
         |        [unicode(c)::HUGEINT for c in
         |          string_split(STRING_AGG(sig::VARCHAR, ',' ORDER BY j), '')]),
         |        (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
         |                    % 18446744073709551616::HUGEINT) AS f
         |    FROM dsig GROUP BY doc_id, j // $r) sub(doc_id, band, f)),
         |cand$b AS (
         |  SELECT DISTINCT a.doc_id AS ia, c.doc_id AS ib
         |  FROM bnd$b a JOIN bnd$b c
         |    ON a.band = c.band AND a.bkey = c.bkey
         |  WHERE a.doc_id < c.doc_id),
         |row$b AS (
         |  SELECT $b::BIGINT AS bands,
         |    (SELECT COUNT(*) FROM cand$b)::BIGINT AS n_candidates,
         |    (SELECT COUNT(*) FROM tp)::BIGINT AS n_true,
         |    (SELECT COUNT(*) FROM cand$b c
         |     JOIN tp ON tp.id_a = c.ia AND tp.id_b = c.ib)::BIGINT
         |      AS n_caught)""".stripMargin
    }.mkString(",\n")
    s"""WITH corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 10000000,
       |    ARRAY_TO_STRING(t[1:GREATEST((LEN(t) * 2) // 3, 1)], ' ')
       |      || ' zz' || doc_id || 'a zz' || doc_id || 'b zz' || doc_id
       |      || 'c zz' || doc_id || 'd zz' || doc_id || 'e'
       |  FROM (SELECT doc_id,
       |          STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS t
       |        FROM documents
       |        WHERE doc_id % 20 = 0 AND TRIM(text) <> '')),
       |toks AS (
       |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+') AS t
       |  FROM corpus WHERE TRIM(text) <> ''),
       |sh AS (
       |  SELECT doc_id,
       |    CASE WHEN LEN(t) >= 3 THEN
       |      LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
       |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
       |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
       |  FROM toks WHERE LEN(t) >= 1),
       |base AS (
       |  SELECT DISTINCT doc_id, UNNEST(LIST_TRANSFORM(s, sg -> list_reduce(
       |      list_prepend(14695981039346656037::HUGEINT,
       |        [unicode(c)::HUGEINT for c in string_split(sg, '')]),
       |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
       |                  % 18446744073709551616::HUGEINT))) AS b
       |  FROM sh),
       |seeds AS (
       |  SELECT j, ((j + 1)::HUGEINT * 11400714819323198485::HUGEINT)
       |           % 18446744073709551616::HUGEINT AS seed
       |  FROM (SELECT UNNEST(RANGE(0, 128)) AS j)),
       |m0 AS (SELECT doc_id, j, xor(b, seed) AS z FROM base CROSS JOIN seeds),
       |m1 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m0),
       |m2 AS (SELECT doc_id, j,
       |  ((z % 4294967296::HUGEINT) * 3981806797::HUGEINT
       |   + (((z % 4294967296::HUGEINT) * 4283543511::HUGEINT
       |       + (z // 4294967296::HUGEINT) * 3981806797::HUGEINT)
       |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
       |  % 18446744073709551616::HUGEINT AS z FROM m1),
       |m3 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m2),
       |m4 AS (SELECT doc_id, j,
       |  ((z % 4294967296::HUGEINT) * 444984403::HUGEINT
       |   + (((z % 4294967296::HUGEINT) * 3301882366::HUGEINT
       |       + (z // 4294967296::HUGEINT) * 444984403::HUGEINT)
       |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
       |  % 18446744073709551616::HUGEINT AS z FROM m3),
       |m5 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z FROM m4),
       |dsig AS (
       |  SELECT doc_id, j, MIN(CAST(CASE WHEN z >= 9223372036854775808::HUGEINT
       |      THEN z - 18446744073709551616::HUGEINT ELSE z END AS BIGINT)) AS sig
       |  FROM m5 GROUP BY doc_id, j),
       |tp AS (
       |  SELECT id_a, id_b FROM (
       |${jaccardPairsSql.linesIterator.map("    " + _).mkString("\n")}
       |  )),
       |$perB
       |SELECT bands, n_candidates, n_true, n_caught,
       |  CAST(n_caught * 1000000 // NULLIF(n_true, 0) AS BIGINT)
       |    AS recall_micro
       |FROM (SELECT * FROM row8 UNION ALL SELECT * FROM row16
       |      UNION ALL SELECT * FROM row32)
       |ORDER BY bands""".stripMargin
  }

  // ---------------------------------------------------------------- d24
  /** Source-pair n-gram overlap matrix ([[Dedup.sourceOverlap]]): exact
    * Jaccard between every source pair over distinct 3-shingle sets —
    * the cross-crawl redundancy census behind mixture budgeting (p17/
    * p27 weigh sources as if independent; this gate measures how true
    * that is). Posting-list pair generation, sizes broadcast back,
    * ⌊10⁶·common/union⌋ integer scores. */
  def d24SourceOverlap(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.sourceOverlap(docs(spark, dir), "source", "text")
      .orderBy("source_a", "source_b")

  val d24Sql: String =
    """WITH toks AS (
      |  SELECT source, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT source,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |posting AS (
      |  SELECT DISTINCT source, UNNEST(s) AS shingle FROM sh),
      |sizes AS (SELECT source, COUNT(*)::BIGINT AS sz FROM posting GROUP BY 1),
      |pairs AS (
      |  SELECT a.source AS source_a, b.source AS source_b,
      |         COUNT(*)::BIGINT AS common
      |  FROM posting a JOIN posting b USING (shingle)
      |  WHERE a.source < b.source
      |  GROUP BY 1, 2)
      |SELECT p.source_a, p.source_b,
      |  sa.sz AS grams_a, sb.sz AS grams_b, p.common,
      |  CAST((p.common * 1000000) // (sa.sz + sb.sz - p.common) AS BIGINT)
      |    AS jaccard_micro
      |FROM pairs p
      |JOIN sizes sa ON sa.source = p.source_a
      |JOIN sizes sb ON sb.source = p.source_b
      |ORDER BY p.source_a, p.source_b""".stripMargin

  // ---------------------------------------------------------------- d25
  /** Continuous contamination rate against d09's blocklist (doc_id % 25
    * prefixes): per doc, the fraction of its distinct 3-gram shingles
    * present anywhere in the blocklist — the GPT-3-style "dirtiness"
    * number whose sub-threshold mass d09's flag pass cannot see. */
  def d25ContaminationRate(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val t = split(trim(col("text")), "\\s+")
    val blocklist = d
      .filter(pmod(col("doc_id"), lit(25)) === 0 && size(t) >= 6)
      .select(concat_ws(" ",
        slice(t, lit(1), (size(t) / 2).cast("int"))).as("text"))
    Dedup.contaminationRate(d, "doc_id", "text", blocklist, "text", k = 3)
      .orderBy("doc_id")
  }

  val d25Sql: String =
    """WITH corpus_toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |csh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM corpus_toks WHERE LEN(t) >= 1),
      |bsrc AS (
      |  SELECT ARRAY_TO_STRING(t[1:CAST(LEN(t) // 2 AS BIGINT)], ' ')
      |    AS text
      |  FROM (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), '\s+') AS t
      |        FROM documents)
      |  WHERE doc_id % 25 = 0 AND LEN(t) >= 6),
      |btoks AS (
      |  SELECT STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM bsrc),
      |bsh AS (
      |  SELECT CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM btoks WHERE LEN(t) >= 1),
      |bset AS (SELECT DISTINCT UNNEST(s) AS shingle FROM bsh),
      |cpost AS (SELECT doc_id, LEN(s) AS sz, UNNEST(s) AS shingle
      |          FROM csh),
      |hits AS (
      |  SELECT doc_id, MAX(sz)::BIGINT AS n_shingles,
      |    COUNT(*)::BIGINT AS n_dirty
      |  FROM cpost JOIN bset USING (shingle) GROUP BY doc_id)
      |SELECT doc_id, n_shingles, n_dirty,
      |  CAST(n_dirty::HUGEINT * 1000000 // n_shingles AS BIGINT)
      |    AS dirty_micro
      |FROM hits ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- d26
  /** Duplicate-cluster SIZE distribution — the dedup report card: how
    * many near-dup clusters of each size exist (d12's graph), with the
    * unclustered remainder as the size-1 row. A corpus whose mass sits
    * in large clusters wastes its crawl budget; the histogram is what a
    * curation dashboard actually plots. Labels from the banded pair
    * join + hash-min CC; the histogram is two fixed-width partial aggs
    * over the label table plus one corpus COUNT for the singleton row. */
  def d26ClusterSizes(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val labels = neardupClusters(spark, dir)
      .select(col("doc_id").as("id"), col("cluster_id").as("label"))
    val sizes = labels.groupBy(col("label"))
      .agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
    val totals = d.agg(count(lit(1)).as("n_total"))
      .crossJoin(broadcast(
        labels.agg(count(lit(1)).as("n_clustered"))))
    val singleton = totals.select(lit(1L).as("cluster_size"),
      (col("n_total") - col("n_clustered")).as("n_clusters"))
    sizes.unionByName(singleton)
      .select(col("cluster_size"), col("n_clusters"),
        (col("cluster_size") * col("n_clusters")).as("n_docs"))
      .orderBy("cluster_size")
  }

  val d26Sql: String = {
    s"""WITH labels AS (
       |${d12Sql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |sizes AS (
       |  SELECT cluster_id, COUNT(*) AS cluster_size
       |  FROM labels GROUP BY 1),
       |hist AS (
       |  SELECT cluster_size, COUNT(*) AS n_clusters
       |  FROM sizes GROUP BY 1
       |  UNION ALL
       |  SELECT 1 AS cluster_size,
       |    (SELECT COUNT(*) FROM documents)
       |      - (SELECT COUNT(*) FROM labels) AS n_clusters)
       |SELECT cluster_size::BIGINT AS cluster_size,
       |  n_clusters::BIGINT AS n_clusters,
       |  (cluster_size * n_clusters)::BIGINT AS n_docs
       |FROM hist ORDER BY cluster_size""".stripMargin
  }

  // ---------------------------------------------------------------- d27
  /** MinHash ESTIMATOR-ERROR audit — the measurement that justifies
    * d23's banding math: for every exact-Jaccard pair ≥ 0.5, the
    * 16-hash signature agreement (matches/16, the unbiased MinHash
    * estimate whose per-hash agreement probability IS the Jaccard) next
    * to the exact value, with the signed integral error. Signatures are
    * the row-local codegen kernel; the audit join probes the signature
    * table with the (tiny) pair list. The oracle replays the ENTIRE
    * signature pipeline in SQL — FNV-1a64 shingle bases, the
    * golden-ratio seed schedule, murmur3 fmix64 via 32-bit limb
    * multiplies, SIGNED min per hash slot — so agreement counts mirror
    * bit-for-bit, not statistically. */
  def d27MinhashError(spark: SparkSession, dir: String): DataFrame = {
    val d = docs(spark, dir)
    val pairs = neardupPairs(spark, dir, 0.5)
    val sigs = Dedup.minhashSignatures(d, "doc_id", "text",
      numHashes = 16, k = 3)
    pairs
      .join(sigs.select(col("doc_id").as("id_a"), col("sig").as("sa")),
        "id_a")
      .join(sigs.select(col("doc_id").as("id_b"), col("sig").as("sb")),
        "id_b")
      .select(col("id_a"), col("id_b"),
        expr("cast(round(jaccard * 1000000) as bigint)")
          .as("jaccard_micro"),
        expr("""aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)),
                 0, (acc, v) -> acc + v) * 62500L""").as("est_micro"))
      .withColumn("err_micro", col("est_micro") - col("jaccard_micro"))
      .orderBy("id_a", "id_b")
  }

  val d27Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |posting AS (SELECT doc_id, LEN(s) AS sz, UNNEST(s) AS shingle
      |            FROM sh),
      |pairs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sza,
      |         b.sz AS szb, COUNT(*) AS common
      |  FROM posting a JOIN posting b USING (shingle)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |jp AS (
      |  SELECT id_a, id_b,
      |    ROUND(common::DOUBLE / (sza + szb - common)::DOUBLE, 6)
      |      AS jaccard
      |  FROM pairs
      |  WHERE common::DOUBLE / (sza + szb - common)::DOUBLE >= 0.5),
      |ids AS (SELECT DISTINCT doc_id FROM (
      |  SELECT id_a AS doc_id FROM jp
      |  UNION ALL SELECT id_b FROM jp)),
      |bases AS (
      |  SELECT p.doc_id, list_reduce(
      |    list_prepend(14695981039346656037::HUGEINT,
      |      [unicode(c)::HUGEINT for c in string_split(p.shingle, '')]),
      |    (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                % 18446744073709551616::HUGEINT) AS b
      |  FROM posting p JOIN ids USING (doc_id)),
      |seeded AS (
      |  SELECT doc_id, j, xor(b,
      |    (j::HUGEINT * 11400714819323198485::HUGEINT)
      |      % 18446744073709551616::HUGEINT) AS z
      |  FROM bases CROSS JOIN (SELECT UNNEST(RANGE(1, 17)) AS j)),
      |x1 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z
      |       FROM seeded),
      |x2 AS (SELECT doc_id, j,
      |  ((z % 4294967296::HUGEINT) * 3981806797::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 4283543511::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 3981806797::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM x1),
      |x3 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS z
      |       FROM x2),
      |x4 AS (SELECT doc_id, j,
      |  ((z % 4294967296::HUGEINT) * 444984403::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 3301882366::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 444984403::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM x3),
      |x5 AS (SELECT doc_id, j, xor(z, z // 8589934592::HUGEINT) AS h
      |       FROM x4),
      |sig AS (
      |  SELECT doc_id, j,
      |    MIN(CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
      |             THEN h - 18446744073709551616::HUGEINT
      |             ELSE h END AS BIGINT)) AS s
      |  FROM x5 GROUP BY 1, 2),
      |agree AS (
      |  SELECT jp.id_a, jp.id_b,
      |    SUM(CASE WHEN sa.s = sb.s THEN 1 ELSE 0 END) AS matches
      |  FROM jp
      |  JOIN sig sa ON sa.doc_id = jp.id_a
      |  JOIN sig sb ON sb.doc_id = jp.id_b AND sb.j = sa.j
      |  GROUP BY 1, 2)
      |SELECT jp.id_a, jp.id_b,
      |  CAST(ROUND(jaccard * 1000000) AS BIGINT) AS jaccard_micro,
      |  (matches * 62500)::BIGINT AS est_micro,
      |  (matches * 62500 - CAST(ROUND(jaccard * 1000000) AS BIGINT))
      |    ::BIGINT AS err_micro
      |FROM jp JOIN agree USING (id_a, id_b)
      |ORDER BY id_a, id_b""".stripMargin

  // ---------------------------------------------------------------- d28
  /** Dedup THRESHOLD-SENSITIVITY curve — the sweep a curation team
    * reads before fixing the Jaccard cutoff: at each threshold in
    * {0.5 … 0.9}, how many near-dup pairs survive and how many distinct
    * documents they touch. A cliff between two thresholds means the
    * corpus has a distinct duplication mode there. ONE banded pair pass
    * at the 0.5 floor produces the pair list; the sweep itself is a
    * broadcast 5-row threshold join over that (tiny) list — the corpus
    * is never rescanned per threshold. */
  def d28ThresholdCurve(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pairs = neardupPairs(spark, dir, 0.5)
      .withColumn("j_micro",
        expr("cast(round(jaccard * 1000000) as bigint)"))
      .localCheckpoint() // feeds the pair count AND the doc explode
    val thr = Seq(500000L, 600000L, 700000L, 800000L, 900000L)
      .toDF("thr_micro")
    val np = pairs.crossJoin(broadcast(thr))
      .filter(col("j_micro") >= col("thr_micro"))
      .groupBy("thr_micro").agg(count(lit(1)).as("n_pairs"))
    val nd = pairs.crossJoin(broadcast(thr))
      .filter(col("j_micro") >= col("thr_micro"))
      .select(col("thr_micro"),
        explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .groupBy("thr_micro")
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    thr.join(np, Seq("thr_micro"), "left")
      .join(nd, Seq("thr_micro"), "left")
      .na.fill(0L, Seq("n_pairs", "n_docs"))
      .orderBy("thr_micro")
  }

  val d28Sql: String =
    """WITH toks AS (
      |  SELECT doc_id, STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS t
      |  FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    CASE WHEN LEN(t) >= 3 THEN
      |      LIST_DISTINCT(LIST_TRANSFORM(RANGE(1, LEN(t) - 2 + 1),
      |        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2]))
      |    ELSE [ARRAY_TO_STRING(t, ' ')] END AS s
      |  FROM toks WHERE LEN(t) >= 1),
      |posting AS (SELECT doc_id, LEN(s) AS sz, UNNEST(s) AS shingle
      |            FROM sh),
      |prs AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sza,
      |         b.sz AS szb, COUNT(*) AS common
      |  FROM posting a JOIN posting b USING (shingle)
      |  WHERE a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4),
      |jp AS (
      |  SELECT id_a, id_b, CAST(ROUND(
      |    ROUND(common::DOUBLE / (sza + szb - common)::DOUBLE, 6)
      |    * 1000000) AS BIGINT) AS j_micro
      |  FROM prs
      |  WHERE common::DOUBLE / (sza + szb - common)::DOUBLE >= 0.5),
      |thr AS (SELECT UNNEST([500000, 600000, 700000, 800000, 900000])
      |          ::BIGINT AS thr_micro),
      |np AS (
      |  SELECT thr_micro, COUNT(*)::BIGINT AS n_pairs
      |  FROM thr JOIN jp ON j_micro >= thr_micro GROUP BY 1),
      |nd AS (
      |  SELECT thr_micro, COUNT(DISTINCT doc_id)::BIGINT AS n_docs
      |  FROM (SELECT thr_micro, UNNEST([id_a, id_b]) AS doc_id
      |        FROM thr JOIN jp ON j_micro >= thr_micro)
      |  GROUP BY 1)
      |SELECT t.thr_micro, COALESCE(np.n_pairs, 0)::BIGINT AS n_pairs,
      |  COALESCE(nd.n_docs, 0)::BIGINT AS n_docs
      |FROM thr t LEFT JOIN np USING (thr_micro)
      |LEFT JOIN nd USING (thr_micro)
      |ORDER BY t.thr_micro""".stripMargin

  // ---------------------------------------------------------------- d29
  /** SimHash DETECTOR EVALUATION against exact-Jaccard truth — the
    * method-selection measurement: treating exact 3-gram Jaccard ≥ 0.7
    * pairs as ground truth, score the SimHash (Hamming ≤ 3) pair set
    * with tp/fp/fn and integral precision/recall/F1. A bit-sketch
    * detector and a set-overlap detector disagree on REAL corpora; this
    * gate measures by how much, on the same banded candidate machinery
    * both production paths use. Both pair sets are tiny; the eval is a
    * full outer join + one 1-row agg. */
  def d29SimhashEval(spark: SparkSession, dir: String): DataFrame = {
    val truth = neardupPairs(spark, dir, 0.7)
      .select(col("id_a"), col("id_b"), lit(1L).as("t"))
    val pred = simhashPairs(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1L).as("p"))
    truth.join(pred, Seq("id_a", "id_b"), "full_outer")
      .agg(sum(when(col("t").isNotNull && col("p").isNotNull, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("t").isNull && col("p").isNotNull, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("t").isNotNull && col("p").isNull, 1L)
          .otherwise(0L)).as("fn"))
      .select(col("tp"), col("fp"), col("fn"),
        expr("cast(tp * 1000000 div nullif(tp + fp, 0) as bigint)")
          .as("precision_micro"),
        expr("cast(tp * 1000000 div nullif(tp + fn, 0) as bigint)")
          .as("recall_micro"),
        expr("""cast(2 * tp * 1000000 div nullif(2 * tp + fp + fn, 0)
                 as bigint)""").as("f1_micro"))
  }

  val d29Sql: String = {
    // d03Sql directly (not via `all`, which would recurse at object init)
    val simhash = d03Sql
    s"""WITH truth AS (
       |${jaccardPairsSql.linesIterator.map("  " + _).mkString("\n")}
       |),
       |pred AS (
       |${simhash.linesIterator.map("  " + _).mkString("\n")}
       |),
       |j AS (
       |  SELECT COALESCE(t.id_a, p.id_a) AS id_a,
       |    t.id_a IS NOT NULL AS has_t, p.id_a IS NOT NULL AS has_p
       |  FROM truth t FULL OUTER JOIN pred p
       |    ON t.id_a = p.id_a AND t.id_b = p.id_b),
       |m AS (
       |  SELECT
       |    SUM(CASE WHEN has_t AND has_p THEN 1 ELSE 0 END)::BIGINT
       |      AS tp,
       |    SUM(CASE WHEN NOT has_t AND has_p THEN 1 ELSE 0 END)::BIGINT
       |      AS fp,
       |    SUM(CASE WHEN has_t AND NOT has_p THEN 1 ELSE 0 END)::BIGINT
       |      AS fn
       |  FROM j)
       |SELECT tp, fp, fn,
       |  CAST(tp * 1000000 // NULLIF(tp + fp, 0) AS BIGINT)
       |    AS precision_micro,
       |  CAST(tp * 1000000 // NULLIF(tp + fn, 0) AS BIGINT)
       |    AS recall_micro,
       |  CAST(2 * tp * 1000000 // NULLIF(2 * tp + fp + fn, 0) AS BIGINT)
       |    AS f1_micro
       |FROM m""".stripMargin
  }

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "d29_simhash_eval" -> (d29SimhashEval _, d29Sql),
    "d28_threshold_curve" -> (d28ThresholdCurve _, d28Sql),
    "d27_minhash_error" -> (d27MinhashError _, d27Sql),
    "d26_cluster_sizes" -> (d26ClusterSizes _, d26Sql),
    "d25_contamination_rate" -> (d25ContaminationRate _, d25Sql),
    "d24_source_overlap" -> (d24SourceOverlap _, d24Sql),
    "d23_lsh_tuning" -> (d23LshTuning _, d23Sql),
    "d22_winnowing" -> (d22WinnowingPairs _, d22Sql),
    "d21_soft_dedup_weights" -> (d21SoftDedupWeights _, d21Sql),
    "d20_incremental_neardup" -> (d20IncrementalNearDup _, d20Sql),
    "d01_exact_dedup" -> (d01ExactDedup _, d01Sql),
    "d06_group_similarity" -> (d06GroupSimilarity _, d06Sql),
    "d02_minhash_lsh" -> (d02MinhashLsh _, d02Sql),
    "d03_simhash" -> (d03Simhash _, d03Sql),
    "d04_ngram_jaccard" -> (d04NgramJaccard _, d04Sql),
    "d05_embedding_neardup" -> (d05EmbeddingNearDup _, d05Sql),
    "d07_containment" -> (d07Containment _, d07Sql),
    "d08_streaming_dedup" -> (d08StreamingDedup _, d08Sql),
    "d09_decontamination" -> (d09Decontamination _, d09Sql),
    "d10_substring_spans" -> (d10SubstringSpans _, d10Sql),
    "d11_substring_dedup" -> (d11SubstringDedup _, d11Sql),
    "d12_dedup_clusters" -> (d12DedupClusters _, d12Sql),
    "d30_star_clusters" -> (d30StarClusters _, d30Sql),
    "d13_cluster_survivors" -> (d13ClusterSurvivors _, d13Sql),
    "d14_fuzzy_join" -> (d14FuzzyJoin _, d14Sql),
    "d15_semantic_dedup" -> (d15SemanticDedup _, d15Sql),
    "d16_streaming_neardup" -> (d16StreamingNearDup _, d16Sql),
    "d17_paragraph_dedup" -> (d17ParagraphDedup _, d17Sql),
    "d18_bloom_decontaminate" -> (d18BloomDecontaminate _, d18Sql),
    "d19_incremental_dedup" -> (d19IncrementalDedup _, d19Sql),
  )
}
