package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Layout, SkewJoin, TextAnalysis}

/** Composite pipeline queries: the operators working together the way a
  * training-data pipeline composes them. */
object PipelineQueries {

  // ---------------------------------------------------------------- p01
  /** Corpus cleaning: exact-dedup → quality gate → per-language accounting.
    * The full pass a pretraining pipeline runs first on raw text. */
  def p01CorpusClean(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    // canonical doc per identical text (lowest doc_id), via a FIXED-WIDTH
    // shuffle: aggregate min(doc_id) per md5 fingerprint (16 bytes + id
    // move, never the document bodies — same md5-equals-text equivalence
    // the d01 oracle uses), then semi-join the survivors back. Quality is
    // scored only on canonical rows, after the dedup — not on the copies.
    val withFp = docs.withColumn("fp", md5(col("text").cast("binary")))
    val canonIds = withFp.groupBy(col("fp"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val canon = docs
      .join(canonIds, Seq("doc_id"), "left_semi")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      // nondeterministic barrier: stops the optimizer from inlining the
      // (large) quality tree into both the pushed filter and the aggregate,
      // which doubled codegen size and dominated cold-run Janino time;
      // results are unaffected (column dropped, aggregates don't touch it)
      .withColumn("__barrier", monotonically_increasing_id())
      .filter(col("quality") >= 0.5)
    // avg as exact-decimal sum / count: double avg is partition-order
    // dependent and would flake the oracle hash
    canon.groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(sum(col("quality").cast("decimal(8,4)")).cast("double") /
          count(lit(1)).cast("double"), 4).as("avg_quality"))
      .orderBy(col("lang"))
  }

  val p01Sql: String =
    """WITH base AS (
      |  SELECT doc_id, lang, text,
      |    STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS w,
      |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |         ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END AS n_tok,
      |    CASE WHEN LENGTH(text) = 0 THEN 0.0
      |         ELSE (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE
      |              / LENGTH(text)::DOUBLE END AS pr,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rk
      |  FROM documents),
      |scored AS (
      |  SELECT doc_id, lang, n_tok,
      |    ROUND(
      |      (CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END) * 0.4
      |      + (1.0 - LEAST(pr * 5.0, 1.0)) * 0.3
      |      + (CASE WHEN (CASE WHEN LEN(w) = 0 THEN 0.0
      |                    ELSE LENGTH(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', '', 'g'))::DOUBLE / LEN(w)::DOUBLE END)
      |              BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3,
      |      4) AS quality
      |  FROM base WHERE rk = 1)
      |SELECT lang, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS total_tokens,
      |  ROUND(CAST(SUM(CAST(quality AS DECIMAL(8,4))) AS DOUBLE)
      |        / COUNT(*)::DOUBLE, 4) AS avg_quality
      |FROM scored WHERE quality >= 0.5
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- p02
  /** Salted join on a genuinely skewed key (events.event_type has ~5
    * values): result must equal the plain join — the oracle is the plain
    * SQL join, so the salting's correctness is hash-checked. */
  def p02SaltedJoin(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val events = spark.read.parquet(s"$dir/events.parquet")
    val typeStats = events.groupBy(col("event_type"))
      .agg(round(sum(col("value").cast("decimal(18,2)")).cast("double") /
        count(lit(1)).cast("double"), 4).as("type_avg"))
    val joined = SkewJoin.saltedInnerJoin(
      events.select(col("event_id"), col("event_type"), col("value")),
      typeStats, "event_type", factor = 8)
    joined.select(col("event_id"), col("event_type"),
      round(col("value") - col("type_avg"), 4).as("value_vs_type_avg"))
      .orderBy(col("event_id"))
  }

  val p02Sql: String =
    """WITH stats AS (
      |  SELECT event_type,
      |    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE)
      |          / COUNT(*)::DOUBLE, 4) AS type_avg
      |  FROM events GROUP BY event_type)
      |SELECT event_id, event_type,
      |  ROUND(value - type_avg, 4) AS value_vs_type_avg
      |FROM events JOIN stats USING (event_type)
      |ORDER BY event_id""".stripMargin

  // ---------------------------------------------------------------- p03
  /** Deterministic stratified sampling: up to 40 docs per language, chosen
    * by md5-hash order — the reproducible subsampling a training pipeline
    * uses to build balanced mixes (same inputs → same sample, on any
    * cluster, in any engine; no RNG state). One window shuffle; at scale
    * the rank cut prunes everything else before any payload moves. */
  def p03StratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val byLangHash = org.apache.spark.sql.expressions.Window
      .partitionBy(col("lang"))
      .orderBy(md5(col("text").cast("binary")), col("doc_id"))
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("rk", row_number().over(byLangHash))
      .filter(col("rk") <= 40)
      .select(col("doc_id"), col("lang"), col("rk").cast("bigint").as("rk"))
      .orderBy(col("doc_id"))
  }

  val p03Sql: String =
    """WITH ranked AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY MD5(text), doc_id) AS rk
      |  FROM documents)
      |SELECT doc_id, lang, rk::BIGINT AS rk
      |FROM ranked WHERE rk <= 40 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p08
  /** Deterministic train/val/test SPLIT ASSIGNMENT — the step every
    * training corpus runs exactly once: each document's split is a pure
    * function of (seed, doc_id) via an md5 fraction (first 3 hex digits →
    * 0..4095; <80% train, <90% val, else test), so the same corpus + seed
    * yields the same split on any cluster/engine, and NEW documents never
    * reassign existing ones (no rank, no RNG state, no count dependence).
    *
    * Scale shape: the hash is row-local, the only shuffle is the final
    * partial-aggregating groupBy — no window, no driver involvement. The
    * gate audits per-(lang, split) counts plus an exact id checksum: one
    * misassigned document breaks the hash match. */
  def p08SplitAssign(spark: SparkSession, dir: String): DataFrame = {
    def d(i: Int) = {
      val a = ascii(substring(col("h"), i, 1))
      a - lit(48) - when(a >= 97, lit(39)).otherwise(lit(0))
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("h", md5(concat(lit("split1:"), col("doc_id").cast("string"))))
      .withColumn("v", d(1) * 256 + d(2) * 16 + d(3))
      .withColumn("split",
        when(col("v") < 3277, "train")
          .when(col("v") < 3686, "val")
          .otherwise("test"))
      .groupBy("lang", "split")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("sum_ids"))
      .orderBy("lang", "split")
  }

  val p08Sql: String =
    """WITH h AS (
      |  SELECT doc_id, lang, MD5('split1:' || doc_id) AS h FROM documents),
      |v AS (
      |  SELECT doc_id, lang,
      |    (ASCII(SUBSTR(h, 1, 1)) - 48
      |     - CASE WHEN ASCII(SUBSTR(h, 1, 1)) >= 97 THEN 39 ELSE 0 END) * 256
      |  + (ASCII(SUBSTR(h, 2, 1)) - 48
      |     - CASE WHEN ASCII(SUBSTR(h, 2, 1)) >= 97 THEN 39 ELSE 0 END) * 16
      |  + (ASCII(SUBSTR(h, 3, 1)) - 48
      |     - CASE WHEN ASCII(SUBSTR(h, 3, 1)) >= 97 THEN 39 ELSE 0 END) AS v
      |  FROM h)
      |SELECT lang,
      |  CASE WHEN v < 3277 THEN 'train'
      |       WHEN v < 3686 THEN 'val' ELSE 'test' END AS split,
      |  COUNT(*) AS n_docs,
      |  SUM(doc_id)::BIGINT AS sum_ids
      |FROM v GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  // ---------------------------------------------------------------- p04
  /** Deterministic epoch shuffle + shard assignment: the last step before
    * training ingestion. Each document gets a seeded pseudo-random hash
    * (md5 of seed‖doc_id — reshuffling is just a new seed); the hash's
    * first hex digit assigns one of 16 shards, and the epoch order is
    * (shard, within-shard hash order). Every worker can thus materialize
    * its own shard independently, and two runs of the same seed produce
    * byte-identical epochs.
    *
    * Deliberately NOT a global row_number: an unpartitioned rank window
    * funnels the corpus through one partition — dead at scale. The
    * per-shard rank windows parallelize across shards, and the only
    * shuffle is the hash-partitioned sort each window needs. Oracle
    * mirrors the md5 order, hex-digit shard arithmetic, and per-shard
    * ranks exactly. */
  def p04EpochShuffle(spark: SparkSession, dir: String): DataFrame = {
    val withHash = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("h", md5(concat(lit("epoch7:"), col("doc_id").cast("string"))))
    val a = ascii(substring(col("h"), 1, 1))
    val sharded = withHash.withColumn("shard",
      ((a - lit(48) - when(a >= 97, lit(39)).otherwise(lit(0))) % 16)
        .cast("bigint"))
    val perShard = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("h"), col("doc_id"))
    sharded
      .withColumn("pos", row_number().over(perShard).cast("bigint"))
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("shard"), col("pos"))
  }

  val p04Sql: String =
    """WITH m AS (
      |  SELECT doc_id, MD5('epoch7:' || doc_id::VARCHAR) AS h
      |  FROM documents),
      |s AS (
      |  SELECT doc_id, h,
      |    (ASCII(SUBSTR(h, 1, 1)) - 48
      |     - CASE WHEN ASCII(SUBSTR(h, 1, 1)) >= 97 THEN 39 ELSE 0 END)
      |    % 16 AS shard
      |  FROM m)
      |SELECT doc_id, shard::BIGINT AS shard,
      |  ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h, doc_id)::BIGINT AS pos
      |FROM s ORDER BY shard, pos""".stripMargin

  // ---------------------------------------------------------------- p05
  /** Sequence packing: greedy next-fit of documents into 512-token
    * training sequences within deterministic 100-id buckets (see
    * [[graft.operators.Packing]]). The oracle replays the identical
    * recurrence with a recursive CTE per bucket. */
  def p05SequencePacking(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Packing.packSequences(
      spark.read.parquet(s"$dir/documents.parquet"), "doc_id", "text",
      budget = 512, bucketSize = 100)
      .orderBy("doc_id")

  val p05Sql: String =
    """WITH RECURSIVE toks AS (
      |  SELECT doc_id, doc_id // 100 AS bucket,
      |    CASE WHEN text IS NULL OR LENGTH(TRIM(text)) = 0 THEN 0
      |         ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END AS t
      |  FROM documents),
      |ord AS (
      |  SELECT doc_id, bucket, t,
      |    ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY doc_id) AS rn
      |  FROM toks),
      |pack AS (
      |  SELECT bucket, rn, doc_id, t, t AS fill, 0 AS bin
      |  FROM ord WHERE rn = 1
      |  UNION ALL
      |  SELECT o.bucket, o.rn, o.doc_id, o.t,
      |    CASE WHEN p.fill > 0 AND p.fill + o.t > 512
      |         THEN o.t ELSE p.fill + o.t END,
      |    CASE WHEN p.fill > 0 AND p.fill + o.t > 512
      |         THEN p.bin + 1 ELSE p.bin END
      |  FROM pack p JOIN ord o ON o.bucket = p.bucket AND o.rn = p.rn + 1)
      |SELECT doc_id, bucket::BIGINT AS bucket, bin::BIGINT AS bin,
      |       t::BIGINT AS n_tokens
      |FROM pack ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p06
  /** Z-order layout clustering: the Morton key over (user_id, event_id)
    * low bits — `Layout.zorderKey` is pure builtin bit arithmetic, so the
    * whole computation codegens and the oracle mirrors it with the same
    * unrolled shifts. The layout effect (range-partition on the key →
    * tight per-partition bounding boxes in BOTH dimensions) is pinned in
    * LayoutSpec; the gate pins the key itself. */
  def p06ZorderLayout(spark: SparkSession, dir: String): DataFrame = {
    // events.ts is TIMESTAMP(NANOS); schema inference needs the legacy
    // mapping even though ts is pruned from this read (see q18)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"))
    val clustered = graft.operators.Layout.clusterByZOrder(
      e, Seq(pmod(col("user_id"), lit(1024L)), pmod(col("event_id"), lit(1024L))),
      bits = 10, keyName = "zkey")
    clustered.select(col("event_id"), col("zkey")).orderBy("event_id")
  }

  val p06Sql: String = {
    val z = graft.operators.Layout.zorderKeySql(
      Seq("user_id % 1024", "event_id % 1024"), bits = 10)
    s"""SELECT event_id, ($z)::BIGINT AS zkey
       |FROM events ORDER BY event_id""".stripMargin
  }

  // ---------------------------------------------------------------- p07
  /** SCD2 snapshot merge (lakehouse upsert history): a second snapshot
    * revises every 7th order's price; merging snapshots into slowly-
    * changing-dimension history is one union + one per-key window pass
    * (valid_from/valid_to chaining via lead) — no driver loop, no MERGE
    * statement needed. Exact arithmetic: one IEEE double multiply. */
  def p07Scd2Merge(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val base = o.select(col("o_orderkey"),
      col("o_totalprice").as("price"),
      lit(1L).as("version"),
      lit(java.sql.Date.valueOf("2026-01-01")).as("valid_from"))
    val upd = o.filter(pmod(col("o_orderkey"), lit(7)) === 0)
      .select(col("o_orderkey"),
        (col("o_totalprice") * lit(1.1d)).as("price"),
        lit(2L).as("version"),
        lit(java.sql.Date.valueOf("2026-06-01")).as("valid_from"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderkey")).orderBy(col("version"))
    base.unionByName(upd)
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select(col("o_orderkey"), col("version"), col("price"),
        col("valid_from"), col("valid_to"), col("is_current"))
      .orderBy("o_orderkey", "version")
  }

  val p07Sql: String =
    """WITH hist AS (
      |  SELECT o_orderkey, o_totalprice AS price, 1::BIGINT AS version,
      |         DATE '2026-01-01' AS valid_from
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, o_totalprice * CAST(1.1 AS DOUBLE) AS price,
      |         2::BIGINT AS version, DATE '2026-06-01' AS valid_from
      |  FROM orders WHERE o_orderkey % 7 = 0)
      |SELECT o_orderkey, version, price, valid_from,
      |  LEAD(valid_from, 1) OVER (PARTITION BY o_orderkey ORDER BY version)
      |    AS valid_to,
      |  LEAD(valid_from, 1) OVER (PARTITION BY o_orderkey ORDER BY version)
      |    IS NULL AS is_current
      |FROM hist ORDER BY o_orderkey, version""".stripMargin

  // ---------------------------------------------------------------- p09
  /** Temperature-weighted DOMAIN MIXTURE sampling — the data-mixing step
    * of multilingual/multi-source pretraining (sample source s with
    * probability ∝ n_s^α, α = 1/2, so small sources are up-weighted
    * relative to their share, the standard "temperature sampling" of
    * mBERT/XLM-R/Llama data recipes).
    *
    * Everything is INTEGER-exact so the oracle can mirror it: weights are
    * integer square roots (floor-corrected, no float boundary), the
    * global budget is `total div 4`, and each source's acceptance
    * threshold is `(4096·T·w_s) div (W·n_s)` compared against the same
    * 12-bit md5 fraction as p08 — membership is a pure function of
    * (seed, doc_id, per-source counts). BIGINT headroom: the threshold
    * numerator is 4096·T·w_s — fine through petabyte corpora
    * (T ≤ 2^40, w ≤ 2^20); beyond that the counts table is tiny, so the
    * threshold computation can switch to DECIMAL(38,0) without touching
    * the row-local accept path.
    *
    * Scale shape: per-source counts are one partial-agg groupBy; the
    * 1-row totals and the 20-row threshold table broadcast back; the
    * accept decision is row-local. No window, no RNG state, no driver
    * loop — new documents change only their own source's threshold. */
  def p09MixtureSample(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n"))
    // floor-corrected integer sqrt: float sqrt can land one off at
    // perfect-square boundaries; the CASE re-anchors it exactly
    val c0 = floor(sqrt(col("n").cast("double"))).cast("long")
    val weighted = counts.withColumn("w",
      when((c0 + 1) * (c0 + 1) <= col("n"), c0 + 1)
        .when(c0 * c0 <= col("n"), c0)
        .otherwise(c0 - 1))
    val totals = weighted.agg(sum(col("n")).as("tot"), sum(col("w")).as("wsum"))
    val thresholds = weighted.crossJoin(broadcast(totals))
      .withColumn("th",
        expr("(4096 * (tot div 4) * w) div (wsum * n)"))
      .select(col("source"), col("n"), col("w"), col("th"))
    def hexDigit(i: Int) = {
      val a = ascii(substring(col("h"), i, 1))
      a - lit(48) - when(a >= 97, lit(39)).otherwise(lit(0))
    }
    docs
      .withColumn("h", md5(concat(lit("mix1:"), col("doc_id").cast("string"))))
      .withColumn("v", hexDigit(1) * 256 + hexDigit(2) * 16 + hexDigit(3))
      .join(broadcast(thresholds), "source")
      .filter(col("v") < col("th"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_sampled"), sum(col("doc_id")).as("sum_ids"))
      .join(thresholds, "source")
      .select(col("source"), col("n").as("n_docs"), col("w").as("weight"),
        col("th").as("threshold"), col("n_sampled"), col("sum_ids"))
      .orderBy("source")
  }

  val p09Sql: String =
    """WITH counts AS (
      |  SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
      |weighted AS (
      |  SELECT source, n,
      |    CASE WHEN (c0 + 1) * (c0 + 1) <= n THEN c0 + 1
      |         WHEN c0 * c0 <= n THEN c0
      |         ELSE c0 - 1 END AS w
      |  FROM (SELECT source, n, FLOOR(SQRT(n::DOUBLE))::BIGINT AS c0
      |        FROM counts)),
      |totals AS (
      |  SELECT SUM(n)::BIGINT AS tot, SUM(w)::BIGINT AS wsum FROM weighted),
      |thresholds AS (
      |  SELECT source, n, w,
      |    (4096 * (tot // 4) * w) // (wsum * n) AS th
      |  FROM weighted CROSS JOIN totals),
      |hashed AS (
      |  SELECT source, doc_id,
      |    ASCII(SUBSTR(MD5('mix1:' || doc_id::VARCHAR), 1, 1)) AS h1,
      |    ASCII(SUBSTR(MD5('mix1:' || doc_id::VARCHAR), 2, 1)) AS h2,
      |    ASCII(SUBSTR(MD5('mix1:' || doc_id::VARCHAR), 3, 1)) AS h3
      |  FROM documents),
      |accepted AS (
      |  SELECT d.source, d.doc_id
      |  FROM hashed d JOIN thresholds t ON t.source = d.source
      |  WHERE (CASE WHEN h1 >= 97 THEN h1 - 87 ELSE h1 - 48 END) * 256
      |      + (CASE WHEN h2 >= 97 THEN h2 - 87 ELSE h2 - 48 END) * 16
      |      + (CASE WHEN h3 >= 97 THEN h3 - 87 ELSE h3 - 48 END) < t.th)
      |SELECT t.source, t.n AS n_docs, t.w AS weight, t.th AS threshold,
      |  a.n_sampled, a.sum_ids
      |FROM (SELECT source, COUNT(*) AS n_sampled,
      |             SUM(doc_id)::BIGINT AS sum_ids
      |      FROM accepted GROUP BY 1) a
      |JOIN thresholds t ON t.source = a.source
      |ORDER BY t.source""".stripMargin

  // ---------------------------------------------------------------- p10
  /** COMPACTION planning — the small-files fix every 100 TB lakehouse
    * table needs: pack each partition's files, in name order, into
    * target-sized bins (Spark's own `maxPartitionBytes` coalescing and
    * Delta/Iceberg OPTIMIZE both use this contiguous next-fit shape — it
    * preserves file order, never reads data, and plans in one metadata
    * pass). A file's bin is `floor(bytes_before / target)`, i.e. bins
    * may overflow by at most one file — the standard trade that keeps
    * the plan a pure prefix-sum instead of NP-hard bin packing.
    *
    * The "file listing" is synthesized deterministically from `part`
    * (file per partkey, size from the exact-decimal retail price), the
    * partition key is p_brand — ~25 groups planning in parallel, the
    * per-partition window never crosses groups, so the plan scales with
    * the listing, not the data. */
  def p10CompactionPlan(spark: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("p_brand")).orderBy(col("p_partkey"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    spark.read.parquet(s"$dir/part.parquet")
      .withColumn("size_bytes",
        expr("((cast(cast(p_retailprice as decimal(12,2)) * 100 as bigint)" +
          " * 7919) % 4000000) + 50000"))
      .withColumn("bytes_before",
        coalesce(sum(col("size_bytes")).over(w), lit(0L)))
      .withColumn("bin", expr("bytes_before div 8000000"))
      .groupBy(col("p_brand"), col("bin"))
      .agg(count(lit(1)).as("n_files"), sum(col("size_bytes")).as("bin_bytes"),
        min(col("p_partkey")).as("first_file"),
        max(col("p_partkey")).as("last_file"))
      .orderBy("p_brand", "bin")
  }

  val p10Sql: String =
    """WITH listing AS (
      |  SELECT p_brand, p_partkey,
      |    ((CAST(CAST(p_retailprice AS DECIMAL(12,2)) * 100 AS BIGINT)
      |      * 7919) % 4000000) + 50000 AS size_bytes
      |  FROM part),
      |planned AS (
      |  SELECT p_brand, p_partkey, size_bytes,
      |    (COALESCE(SUM(size_bytes) OVER (PARTITION BY p_brand
      |      ORDER BY p_partkey ROWS BETWEEN UNBOUNDED PRECEDING
      |      AND 1 PRECEDING), 0) // 8000000)::BIGINT AS bin
      |  FROM listing)
      |SELECT p_brand, bin, COUNT(*) AS n_files, SUM(size_bytes)::BIGINT AS bin_bytes,
      |  MIN(p_partkey) AS first_file, MAX(p_partkey) AS last_file
      |FROM planned GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin

  // ---------------------------------------------------------------- p11
  /** Data-quality CONSTRAINT REPORT (the Deequ/Great-Expectations
    * pattern): one aggregation pass per table computes every metric —
    * completeness, key uniqueness, domain compliance, bounds — and the
    * report unpivots to (table, metric, value_micro) rows. Ratios are
    * micro-units via integral division, so the report is engine-exact.
    *
    * Scale shape: each table contributes ONE partial-aggregating pass
    * (count + conditional counts + distinct-count on the key); the
    * unpivot is over a 1-row frame. Constraint checks at 100 TB are
    * exactly this: no row ever leaves its executor until the final
    * single-row combine. */
  def p11QualityReport(spark: SparkSession, dir: String): DataFrame = {
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .agg(count(lit(1)).as("total"),
        count(col("l_returnflag")).as("flag_nonnull"),
        countDistinct(col("l_orderkey"), col("l_linenumber")).as("key_distinct"),
        sum(when(col("l_quantity").between(1, 50), 1L).otherwise(0L)).as("qty_ok"),
        sum(when(col("l_extendedprice") > 0, 1L).otherwise(0L)).as("price_pos"),
        sum(when(col("l_discount") <= 0.1, 1L).otherwise(0L)).as("disc_ok"))
      .select(lit("lineitem").as("tbl"), expr(
        "stack(5," +
          " 'completeness_returnflag', (flag_nonnull * 1000000) div total," +
          " 'uniqueness_order_line', (key_distinct * 1000000) div total," +
          " 'compliance_qty_1_50', (qty_ok * 1000000) div total," +
          " 'compliance_price_pos', (price_pos * 1000000) div total," +
          " 'compliance_disc_le_10pct', (disc_ok * 1000000) div total)" +
          " as (metric, value_micro)"))
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .agg(count(lit(1)).as("total"),
        count(col("text")).as("text_nonnull"),
        countDistinct(col("doc_id")).as("id_distinct"),
        sum(when(length(col("text")) === col("n_chars"), 1L).otherwise(0L))
          .as("len_consistent"))
      .select(lit("documents").as("tbl"), expr(
        "stack(3," +
          " 'completeness_text', (text_nonnull * 1000000) div total," +
          " 'uniqueness_doc_id', (id_distinct * 1000000) div total," +
          " 'consistency_n_chars', (len_consistent * 1000000) div total)" +
          " as (metric, value_micro)"))
    li.unionAll(docs).orderBy("tbl", "metric")
  }

  val p11Sql: String =
    """WITH li AS (
      |  SELECT COUNT(*) AS total,
      |    COUNT(l_returnflag) AS flag_nonnull,
      |    COUNT(DISTINCT (l_orderkey, l_linenumber)) AS key_distinct,
      |    SUM(CASE WHEN l_quantity BETWEEN 1 AND 50 THEN 1 ELSE 0 END) AS qty_ok,
      |    SUM(CASE WHEN l_extendedprice > 0 THEN 1 ELSE 0 END) AS price_pos,
      |    SUM(CASE WHEN l_discount <= 0.1 THEN 1 ELSE 0 END) AS disc_ok
      |  FROM lineitem),
      |docs AS (
      |  SELECT COUNT(*) AS total, COUNT(text) AS text_nonnull,
      |    COUNT(DISTINCT doc_id) AS id_distinct,
      |    SUM(CASE WHEN LENGTH(text) = n_chars THEN 1 ELSE 0 END) AS len_ok
      |  FROM documents),
      |rows_ AS (
      |  SELECT 'lineitem' AS tbl, 'completeness_returnflag' AS metric,
      |         (flag_nonnull * 1000000) // total AS value_micro FROM li
      |  UNION ALL SELECT 'lineitem', 'uniqueness_order_line',
      |         (key_distinct * 1000000) // total FROM li
      |  UNION ALL SELECT 'lineitem', 'compliance_qty_1_50',
      |         (qty_ok * 1000000) // total FROM li
      |  UNION ALL SELECT 'lineitem', 'compliance_price_pos',
      |         (price_pos * 1000000) // total FROM li
      |  UNION ALL SELECT 'lineitem', 'compliance_disc_le_10pct',
      |         (disc_ok * 1000000) // total FROM li
      |  UNION ALL SELECT 'documents', 'completeness_text',
      |         (text_nonnull * 1000000) // total FROM docs
      |  UNION ALL SELECT 'documents', 'uniqueness_doc_id',
      |         (id_distinct * 1000000) // total FROM docs
      |  UNION ALL SELECT 'documents', 'consistency_n_chars',
      |         (len_ok * 1000000) // total FROM docs)
      |SELECT tbl, metric, value_micro::BIGINT AS value_micro
      |FROM rows_ ORDER BY tbl, metric""".stripMargin

  // ---------------------------------------------------------------- p12
  /** DATASET CARD: the per-language corpus summary published with every
    * released training set — document/token/char volumes, exact-duplicate
    * rate, and per-source spread, in ONE partial-agg pass over the corpus
    * plus one md5-distinct (the same fingerprint shuffle d01 uses). All
    * integral (milli-token means, micro dup rates), so the card is
    * engine-exact. */
  def p12DatasetCard(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("fp", md5(col("text").cast("binary")))
    val perLang = d.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(length(col("text")).cast("long")).as("total_chars"),
      countDistinct(col("fp")).as("distinct_texts"),
      countDistinct(col("source")).as("n_sources"))
    perLang
      .withColumn("dup_docs", col("n_docs") - col("distinct_texts"))
      .withColumn("dup_rate_micro", expr("(dup_docs * 1000000) div n_docs"))
      .withColumn("mean_tokens_milli",
        expr("(total_tokens * 1000) div n_docs"))
      .select(col("lang"), col("n_docs"), col("total_tokens"),
        col("total_chars"), col("n_sources"), col("dup_docs"),
        col("dup_rate_micro"), col("mean_tokens_milli"))
      .orderBy("lang")
  }

  val p12Sql: String =
    """WITH d AS (
      |  SELECT lang, source, text,
      |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |         ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END::BIGINT
      |      AS n_tokens,
      |    MD5(text) AS fp
      |  FROM documents),
      |per AS (
      |  SELECT lang, COUNT(*) AS n_docs,
      |    SUM(n_tokens)::BIGINT AS total_tokens,
      |    SUM(LENGTH(text))::BIGINT AS total_chars,
      |    COUNT(DISTINCT fp) AS distinct_texts,
      |    COUNT(DISTINCT source) AS n_sources
      |  FROM d GROUP BY 1)
      |SELECT lang, n_docs, total_tokens, total_chars, n_sources,
      |  (n_docs - distinct_texts)::BIGINT AS dup_docs,
      |  (((n_docs - distinct_texts) * 1000000) // n_docs)::BIGINT
      |    AS dup_rate_micro,
      |  ((total_tokens * 1000) // n_docs)::BIGINT AS mean_tokens_milli
      |FROM per ORDER BY lang""".stripMargin

  // ---------------------------------------------------------------- p13
  /** CDC changelog compaction to the latest snapshot
    * ([[graft.operators.Cdc.latestSnapshot]]): a deterministic
    * insert/update/delete log over orders — every key inserted at seq 1,
    * every 3rd key's price revised at seq 2 (one IEEE double multiply,
    * bit-identical across engines — p07's discipline), every 5th key
    * tombstoned at seq 3 — collapsed to current state. One max_by
    * aggregation shuffle, no window sort; deletes drop row-locally after
    * the agg. p07 is the KEEP-HISTORY twin (SCD2); this is the
    * latest-state read every lakehouse table serves. */
  def p13CdcSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"))
    val ins = o.select(col("o_orderkey"), lit("I").as("op"),
      lit(1L).as("seq"), col("o_totalprice").as("price"))
    val upd = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select(col("o_orderkey"), lit("U").as("op"), lit(2L).as("seq"),
        (col("o_totalprice") * lit(1.1d)).as("price"))
    val del = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
      .select(col("o_orderkey"), lit("D").as("op"), lit(3L).as("seq"),
        lit(null).cast("double").as("price"))
    graft.operators.Cdc.latestSnapshot(
      ins.unionByName(upd).unionByName(del),
      "o_orderkey", "seq", "op", "price")
      .orderBy(col("o_orderkey"))
  }

  val p13Sql: String =
    """WITH log AS (
      |  SELECT o_orderkey, 'I' AS op, 1::BIGINT AS seq,
      |         o_totalprice AS price
      |  FROM orders
      |  UNION ALL
      |  SELECT o_orderkey, 'U', 2, o_totalprice * 1.1
      |  FROM orders WHERE o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', 3, NULL
      |  FROM orders WHERE o_orderkey % 5 = 0),
      |latest AS (
      |  SELECT o_orderkey,
      |    ARG_MAX(op, seq) AS op,
      |    ARG_MAX(price, seq) AS price,
      |    MAX(seq) AS last_seq
      |  FROM log GROUP BY 1)
      |SELECT o_orderkey, price, last_seq
      |FROM latest WHERE op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  // ---------------------------------------------------------------- p14
  /** Order-independent dataset checksum per source
    * ([[graft.operators.Checksum.datasetChecksum]]): count + XOR-fold +
    * bounded additive digest of each row's FNV-1a64 over the canonical
    * (doc_id, lang, text) serialization. Commutative aggregates only, so
    * any row order, partitioning, or engine produces the same stamp —
    * the DuckDB oracle refolds the same bytes in HUGEINT and matches all
    * three integers exactly. */
  def p14DatasetChecksum(spark: SparkSession, dir: String): DataFrame =
    graft.operators.Checksum.datasetChecksum(
      spark.read.parquet(s"$dir/documents.parquet"),
      "source", Seq("doc_id", "lang", "text"))
      .orderBy(col("source"))

  val p14Sql: String =
    """WITH h AS (
      |  SELECT source,
      |    list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        [unicode(c)::HUGEINT for c in string_split(
      |           doc_id::VARCHAR || chr(31) || lang || chr(31) || text, '')]),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT) AS fnv
      |  FROM documents),
      |s AS (
      |  SELECT source,
      |    CASE WHEN fnv >= 9223372036854775808::HUGEINT
      |         THEN fnv - 18446744073709551616::HUGEINT
      |         ELSE fnv END AS h_signed,
      |    fnv % 1073741824::HUGEINT AS h_mod
      |  FROM h)
      |SELECT source, COUNT(*) AS n_rows,
      |  BIT_XOR(h_signed)::BIGINT AS xor_fp,
      |  SUM(h_mod)::BIGINT AS add_fp
      |FROM s GROUP BY source ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- p15
  /** Incremental aggregate maintenance
    * ([[graft.operators.Incremental.mergeState]]): per-customer order
    * stats kept current by merging a delta batch's aggregate into
    * yesterday's state — history (here the 90% "old" slice) is never
    * rescanned; the merge shuffles two keys-sized aggregate tables. The
    * oracle recomputes from scratch over everything, so the gate proves
    * merge ≡ recompute for the decomposable aggregates (count/sum/max). */
  def p15IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        col("o_orderdate"))
    def aggOf(df: DataFrame): DataFrame = df.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).as("revenue"),
        max(col("o_orderdate")).as("last_order"))
    val state = aggOf(o.filter(pmod(col("o_orderkey"), lit(10)) =!= 0))
    val delta = aggOf(o.filter(pmod(col("o_orderkey"), lit(10)) === 0))
    graft.operators.Incremental.mergeState(state, delta,
      Seq("o_custkey"), sumCols = Seq("n_orders", "revenue"),
      maxCols = Seq("last_order"))
      .select(col("o_custkey"), col("n_orders"),
        col("revenue").cast("double").as("revenue"), col("last_order"))
      .orderBy(col("o_custkey"))
  }

  val p15Sql: String =
    """SELECT o_custkey, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
      |  MAX(o_orderdate) AS last_order
      |FROM orders
      |GROUP BY o_custkey ORDER BY o_custkey""".stripMargin

  // ---------------------------------------------------------------- p16
  /** BUCKETED co-located join: orders and customer written as 8-bucket
    * tables on the join key, re-read and merge-joined — the bucketed
    * scans already satisfy the join's hash distribution, so NO exchange
    * touches either side (pinned in PlanQualitySpec; the merge hint just
    * keeps the tiny test-side customer from broadcasting). This is the
    * pre-shuffle-once-join-forever layout a 100 TB fact table wants:
    * bucket at write time, and every subsequent key join rides the
    * layout for free. Result is oracled against the plain join. */
  def p16BucketedJoin(spark: SparkSession, dir: String): DataFrame = {
    val sfx = math.abs(dir.hashCode).toString
    val oT = s"graft_bkt_orders_$sfx"
    val cT = s"graft_bkt_customer_$sfx"
    // a fresh session's in-memory catalog forgets managed tables but the
    // warehouse directory survives — drop both halves or saveAsTable
    // refuses with LOCATION_ALREADY_EXISTS on the next run
    Seq(oT, cT).foreach { tbl =>
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      StreamGate.rmTree(new java.io.File(java.net.URI.create(
        spark.conf.get("spark.sql.warehouse.dir")).getPath, tbl))
    }
    spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_custkey"), col("o_totalprice"))
      .repartition(8, col("o_custkey"))
      .write.mode("overwrite").bucketBy(8, "o_custkey")
      .sortBy("o_custkey").saveAsTable(oT)
    spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_mktsegment"))
      .repartition(8, col("c_custkey"))
      .write.mode("overwrite").bucketBy(8, "c_custkey")
      .sortBy("c_custkey").saveAsTable(cT)
    spark.table(oT)
      .join(spark.table(cT).hint("merge"),
        col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)"))
          .cast("double").as("revenue"))
      .orderBy(col("c_mktsegment"))
  }

  val p16Sql: String =
    """SELECT c_mktsegment, COUNT(*) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---------------------------------------------------------------- p17
  /** DATA-RECIPE MIXTURE PLAN — the token-budget allocation every
    * pretraining run computes before a single example is sampled
    * (the LLaMA/GPT "how many epochs of each source" table): per-source
    * token inventories, a per-source recipe weight, and a total token
    * budget combine into target tokens, epoch multipliers, and
    * oversampling flags. Everything is integer arithmetic — weights in
    * mille, targets as one integer division against the weight sum,
    * epochs in milli-passes — so the plan is engine-exact.
    *
    * The gate's recipe weight is a deterministic function of the source
    * id (20 + 8·(num mod 10)) so both under- and over-sampled branches
    * genuinely occur; the budget is 2× the corpus inventory. Scale
    * shape: one partial-agg pass over the corpus to |sources| rows, a
    * broadcast one-row total, and per-source arithmetic — recipe
    * planning over a 100 TB corpus is a metadata computation on the
    * p12-style accounting table. */
  def p17MixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val per = d.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextAnalysis.tokenCount(col("text"))).as("n_tokens"))
      .withColumn("weight",
        lit(20L) + lit(8L) *
          pmod(substring(col("source"), 4, 10).cast("long"), lit(10L)))
    val tot = per.agg(sum(col("n_tokens")).as("corpus_tokens"),
      sum(col("weight")).as("w_sum"))
    per.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr("(corpus_tokens * 2 * weight) div w_sum"))
      .withColumn("epochs_milli",
        expr("(target_tokens * 1000) div n_tokens"))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("weight"),
        col("target_tokens"), col("epochs_milli"),
        (col("epochs_milli") > 1000L).as("oversampled"))
      .orderBy("source")
  }

  val p17Sql: String =
    """WITH per0 AS (
      |  SELECT source, COUNT(*) AS n_docs,
      |    SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |        ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END) AS n_tokens
      |  FROM documents GROUP BY source),
      |per AS (
      |  SELECT source, n_docs, n_tokens,
      |    20 + 8 * (SUBSTRING(source, 4)::BIGINT % 10) AS weight
      |  FROM per0),
      |tot AS (SELECT SUM(n_tokens) AS corpus_tokens, SUM(weight) AS w_sum
      |        FROM per)
      |SELECT p.source, p.n_docs::BIGINT AS n_docs,
      |  p.n_tokens::BIGINT AS n_tokens, p.weight::BIGINT AS weight,
      |  ((t.corpus_tokens * 2 * p.weight) // t.w_sum)::BIGINT AS target_tokens,
      |  (((t.corpus_tokens * 2 * p.weight) // t.w_sum) * 1000
      |     // p.n_tokens)::BIGINT AS epochs_milli,
      |  (((t.corpus_tokens * 2 * p.weight) // t.w_sum) * 1000
      |     // p.n_tokens) > 1000 AS oversampled
      |FROM per p CROSS JOIN tot t
      |ORDER BY p.source""".stripMargin

  // ---------------------------------------------------------------- p18
  /** END-TO-END CURATION REPORT — the full funnel a pretraining data
    * team publishes per source, composed from four green surfaces in one
    * plan: exact dedup (p01's md5-canonical semantics) → quality gate
    * (t03's score ≥ 0.5) → per-source token inventory → p17's mixture
    * allocation over the SURVIVING tokens. One row per source: raw
    * count, canonical count, quality-kept count, kept tokens, recipe
    * weight, target tokens, milli-epochs. Proves the dedup, text-quality,
    * and planning surfaces compose end to end under one fully mirrored
    * oracle.
    *
    * Scale shape: the funnel is two fixed-width shuffles (md5 canonical
    * agg + per-source rollup) over one corpus pass; the allocation is
    * arithmetic on the |sources|-row summary with a broadcast one-row
    * total. */
  def p18CurationReport(spark: SparkSession, dir: String): DataFrame = {
    // deterministic attrition so every funnel stage genuinely fires on
    // this clean fixture: every 9th doc degrades to junk (fails the
    // quality gate), every other 13th doc becomes corpus-wide boilerplate
    // (collapses in dedup) — the d17/t12 decoration pattern
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(9)) === 0, lit("!! ?? !!"))
          .when(pmod(col("doc_id"), lit(13)) === 0,
            lit("duplicated boilerplate passage filler"))
          .otherwise(col("text")).as("text"))
    val canonIds = docs
      .withColumn("fp", md5(col("text").cast("binary")))
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val canon = docs.join(canonIds, Seq("doc_id"), "left_semi")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      // same codegen barrier as p01: stop the optimizer from inlining the
      // quality tree into every consumer
      .withColumn("__barrier", monotonically_increasing_id())
    val raw = docs.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
    val canonCnt = canon.groupBy(col("source"))
      .agg(count(lit(1)).as("n_canonical"))
    val keptAgg = canon.filter(col("quality") >= 0.5)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tokens")).as("kept_tokens"))
    val per = raw
      .join(canonCnt, Seq("source"), "left")
      .join(keptAgg, Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_canonical"), lit(0L)).as("n_canonical"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .withColumn("weight",
        lit(20L) + lit(8L) *
          pmod(substring(col("source"), 4, 10).cast("long"), lit(10L)))
    val tot = per.agg(sum(col("kept_tokens")).as("corpus_tokens"),
      sum(col("weight")).as("w_sum"))
    per.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr("(corpus_tokens * 2 * weight) div w_sum"))
      .withColumn("epochs_milli",
        expr("(target_tokens * 1000) div kept_tokens"))
      .select(col("source"), col("n_raw"), col("n_canonical"), col("n_kept"),
        col("kept_tokens"), col("weight"), col("target_tokens"),
        col("epochs_milli"))
      .orderBy("source")
  }

  /** p01's dedup+quality mirror, rolled up by source, feeding p17's
    * allocation arithmetic. */
  val p18Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 9 = 0 THEN '!! ?? !!'
      |         WHEN doc_id % 13 = 0 THEN 'duplicated boilerplate passage filler'
      |         ELSE text END AS text
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, source, text,
      |    STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS w,
      |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |         ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END AS n_tok,
      |    CASE WHEN LENGTH(text) = 0 THEN 0.0
      |         ELSE (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE
      |              / LENGTH(text)::DOUBLE END AS pr,
      |    ROW_NUMBER() OVER (PARTITION BY text ORDER BY doc_id) AS rk
      |  FROM aug),
      |scored AS (
      |  SELECT doc_id, source, n_tok,
      |    ROUND(
      |      (CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END) * 0.4
      |      + (1.0 - LEAST(pr * 5.0, 1.0)) * 0.3
      |      + (CASE WHEN (CASE WHEN LEN(w) = 0 THEN 0.0
      |                    ELSE LENGTH(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', '', 'g'))::DOUBLE / LEN(w)::DOUBLE END)
      |              BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3,
      |      4) AS quality
      |  FROM base WHERE rk = 1),
      |raw AS (SELECT source, COUNT(*) AS n_raw FROM aug GROUP BY 1),
      |cc AS (SELECT source, COUNT(*) AS n_canonical FROM scored GROUP BY 1),
      |ka AS (SELECT source, COUNT(*) AS n_kept, SUM(n_tok) AS kept_tokens
      |       FROM scored WHERE quality >= 0.5 GROUP BY 1),
      |per AS (
      |  SELECT r.source, r.n_raw,
      |    COALESCE(cc.n_canonical, 0) AS n_canonical,
      |    COALESCE(ka.n_kept, 0) AS n_kept,
      |    COALESCE(ka.kept_tokens, 0) AS kept_tokens,
      |    20 + 8 * (SUBSTRING(r.source, 4)::BIGINT % 10) AS weight
      |  FROM raw r
      |  LEFT JOIN cc ON cc.source = r.source
      |  LEFT JOIN ka ON ka.source = r.source),
      |tot AS (SELECT SUM(kept_tokens) AS corpus_tokens, SUM(weight) AS w_sum
      |        FROM per)
      |SELECT p.source, p.n_raw::BIGINT AS n_raw,
      |  p.n_canonical::BIGINT AS n_canonical, p.n_kept::BIGINT AS n_kept,
      |  p.kept_tokens::BIGINT AS kept_tokens, p.weight::BIGINT AS weight,
      |  ((t.corpus_tokens * 2 * p.weight) // t.w_sum)::BIGINT AS target_tokens,
      |  (((t.corpus_tokens * 2 * p.weight) // t.w_sum) * 1000
      |     // NULLIF(p.kept_tokens, 0))::BIGINT AS epochs_milli
      |FROM per p CROSS JOIN tot t
      |ORDER BY p.source""".stripMargin

  // ---------------------------------------------------------------- p19
  /** INCREMENTAL curation report — p18's funnel in its production shape:
    * yesterday's PERSISTED artifacts (the d19-style md5 fingerprint
    * store + the published per-source report) plus today's batch
    * (doc_id % 10 = 7, the d19/d20 ingest convention) produce the
    * updated report WITHOUT re-reading history text. Both artifacts are
    * built once and lineage-severed with localCheckpoint — the update
    * plan physically cannot rescan history (PlanQualitySpec pins the
    * scan count: history appears only as materialized RDD rows).
    *
    * Incremental semantics are d19's first-seen-wins: a batch doc whose
    * fingerprint exists in the store is a dup of history regardless of
    * id order (new batches never reclassify old documents); batch-only
    * fingerprints elect the lowest batch id. The per-source counters are
    * ADDITIVE (raw/canonical/kept/tokens sums), so update = yesterday +
    * batch delta; only the |sources|-row allocation arithmetic recomputes
    * globally — the p17 metadata op.
    *
    * FULL oracle proving incremental ≡ full recompute: one pass over the
    * whole decorated corpus with the arrival-priority canonical rule
    * (history before batch, then id) — if the incremental composition
    * dropped or double-counted anything, the hashes diverge. */
  def p19IncrementalCuration(spark: SparkSession, dir: String): DataFrame = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source"),
        when(pmod(col("doc_id"), lit(9)) === 0, lit("!! ?? !!"))
          .when(pmod(col("doc_id"), lit(13)) === 0,
            lit("duplicated boilerplate passage filler"))
          .otherwise(col("text")).as("text"))
    val hist = docs.filter(pmod(col("doc_id"), lit(10)) =!= 7)
    val batch = docs.filter(pmod(col("doc_id"), lit(10)) === 7)

    // ---- yesterday's job: build + persist the store and the report
    val histFp = hist.withColumn("fp", md5(col("text").cast("binary")))
    val store = histFp
      .groupBy(col("fp")).agg(min(col("doc_id")).as("canonical_id"))
      .localCheckpoint()
    val histCanon = histFp
      .join(store.select(col("canonical_id").as("doc_id")),
        Seq("doc_id"), "left_semi")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("__barrier", monotonically_increasing_id())
    val reportY = hist.groupBy(col("source")).agg(count(lit(1)).as("n_raw"))
      .join(histCanon.groupBy(col("source"))
        .agg(count(lit(1)).as("n_canonical")), Seq("source"), "left")
      .join(histCanon.filter(col("quality") >= 0.5).groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n_tokens")).as("kept_tokens")), Seq("source"), "left")
      .select(col("source"), col("n_raw"),
        coalesce(col("n_canonical"), lit(0L)).as("n_canonical"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .localCheckpoint()

    // ---- today's update: the batch partition is read ONCE — its
    // fingerprinted rows (exactly what the caller appends to the store)
    // are materialized and every update consumer reads the materialized
    // rows, so the final plan contains zero parquet scans
    val batchFp = batch.withColumn("fp", md5(col("text").cast("binary")))
      .localCheckpoint()
    val newCanonIds = batchFp
      .join(store.select(col("fp")), Seq("fp"), "left_anti")
      .groupBy(col("fp")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    val newCanon = batchFp.join(newCanonIds, Seq("doc_id"), "left_semi")
      .withColumn("quality", TextAnalysis.qualityScore(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("__barrier", monotonically_increasing_id())
    val delta = batchFp.groupBy(col("source")).agg(count(lit(1)).as("d_raw"))
      .join(newCanon.groupBy(col("source"))
        .agg(count(lit(1)).as("d_canonical")), Seq("source"), "left")
      .join(newCanon.filter(col("quality") >= 0.5).groupBy(col("source"))
        .agg(count(lit(1)).as("d_kept"),
          sum(col("n_tokens")).as("d_tokens")), Seq("source"), "left")

    // additive counter merge (full outer: a batch may open a new source)
    val per = reportY.join(delta, Seq("source"), "full")
      .select(col("source"),
        (coalesce(col("n_raw"), lit(0L)) + coalesce(col("d_raw"), lit(0L)))
          .as("n_raw"),
        (coalesce(col("n_canonical"), lit(0L)) +
          coalesce(col("d_canonical"), lit(0L))).as("n_canonical"),
        (coalesce(col("n_kept"), lit(0L)) + coalesce(col("d_kept"), lit(0L)))
          .as("n_kept"),
        (coalesce(col("kept_tokens"), lit(0L)) +
          coalesce(col("d_tokens"), lit(0L))).as("kept_tokens"))
      .withColumn("weight",
        lit(20L) + lit(8L) *
          pmod(substring(col("source"), 4, 10).cast("long"), lit(10L)))
    val tot = per.agg(sum(col("kept_tokens")).as("corpus_tokens"),
      sum(col("weight")).as("w_sum"))
    per.crossJoin(broadcast(tot))
      .withColumn("target_tokens",
        expr("(corpus_tokens * 2 * weight) div w_sum"))
      .withColumn("epochs_milli",
        expr("(target_tokens * 1000) div nullif(kept_tokens, 0)"))
      .select(col("source"), col("n_raw"), col("n_canonical"), col("n_kept"),
        col("kept_tokens"), col("weight"), col("target_tokens"),
        col("epochs_milli"))
      .orderBy("source")
  }

  /** p18's mirror with the arrival-priority canonical rule: full
    * recompute over history ∪ batch, history-first on fingerprint ties —
    * exactly what the incremental composition must equal. */
  val p19Sql: String =
    """WITH aug AS (
      |  SELECT doc_id, source,
      |    CASE WHEN doc_id % 9 = 0 THEN '!! ?? !!'
      |         WHEN doc_id % 13 = 0 THEN 'duplicated boilerplate passage filler'
      |         ELSE text END AS text
      |  FROM documents),
      |base AS (
      |  SELECT doc_id, source, text,
      |    STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS w,
      |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |         ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END AS n_tok,
      |    CASE WHEN LENGTH(text) = 0 THEN 0.0
      |         ELSE (LENGTH(text) - LENGTH(REGEXP_REPLACE(text, '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE
      |              / LENGTH(text)::DOUBLE END AS pr,
      |    ROW_NUMBER() OVER (PARTITION BY text
      |      ORDER BY CASE WHEN doc_id % 10 = 7 THEN 1 ELSE 0 END, doc_id)
      |      AS rk
      |  FROM aug),
      |scored AS (
      |  SELECT doc_id, source, n_tok,
      |    ROUND(
      |      (CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0 ELSE 0.0 END) * 0.4
      |      + (1.0 - LEAST(pr * 5.0, 1.0)) * 0.3
      |      + (CASE WHEN (CASE WHEN LEN(w) = 0 THEN 0.0
      |                    ELSE LENGTH(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', '', 'g'))::DOUBLE / LEN(w)::DOUBLE END)
      |              BETWEEN 3.0 AND 12.0 THEN 1.0 ELSE 0.0 END) * 0.3,
      |      4) AS quality
      |  FROM base WHERE rk = 1),
      |raw AS (SELECT source, COUNT(*) AS n_raw FROM aug GROUP BY 1),
      |cc AS (SELECT source, COUNT(*) AS n_canonical FROM scored GROUP BY 1),
      |ka AS (SELECT source, COUNT(*) AS n_kept, SUM(n_tok) AS kept_tokens
      |       FROM scored WHERE quality >= 0.5 GROUP BY 1),
      |per AS (
      |  SELECT r.source, r.n_raw,
      |    COALESCE(cc.n_canonical, 0) AS n_canonical,
      |    COALESCE(ka.n_kept, 0) AS n_kept,
      |    COALESCE(ka.kept_tokens, 0) AS kept_tokens,
      |    20 + 8 * (SUBSTRING(r.source, 4)::BIGINT % 10) AS weight
      |  FROM raw r
      |  LEFT JOIN cc ON cc.source = r.source
      |  LEFT JOIN ka ON ka.source = r.source),
      |tot AS (SELECT SUM(kept_tokens) AS corpus_tokens, SUM(weight) AS w_sum
      |        FROM per)
      |SELECT p.source, p.n_raw::BIGINT AS n_raw,
      |  p.n_canonical::BIGINT AS n_canonical, p.n_kept::BIGINT AS n_kept,
      |  p.kept_tokens::BIGINT AS kept_tokens, p.weight::BIGINT AS weight,
      |  ((t.corpus_tokens * 2 * p.weight) // t.w_sum)::BIGINT AS target_tokens,
      |  (((t.corpus_tokens * 2 * p.weight) // t.w_sum) * 1000
      |     // NULLIF(p.kept_tokens, 0))::BIGINT AS epochs_milli
      |FROM per p CROSS JOIN tot t
      |ORDER BY p.source""".stripMargin

  // ---------------------------------------------------------------- p20
  /** Snapshot reconciliation ([[graft.operators.Cdc.snapshotDiff]]): two
    * versions of the orders table — version B deterministically removes
    * every 97th key, revises every 89th surviving price by one IEEE
    * multiply, and appends a re-keyed copy of every 101st row — diffed
    * back to row-level added/removed/changed classifications without any
    * changelog, then rolled up per change type with a key-sum
    * fingerprint. The diff itself is one co-partitioned full outer join
    * over (key, 8-byte FNV row digest) — fixed shuffle width no matter
    * how wide the snapshot rows are — and the oracle derives the same
    * classification structurally from the mutation rules. */
  def p20SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val a = spark.read.parquet(s"$dir/orders.parquet")
      .select(col("o_orderkey"), col("o_totalprice"), col("o_orderstatus"))
    val survivors = a.filter(pmod(col("o_orderkey"), lit(97)) =!= 0)
      .withColumn("o_totalprice",
        when(pmod(col("o_orderkey"), lit(89)) === 0,
          col("o_totalprice") * lit(1.05d))
          .otherwise(col("o_totalprice")))
    val appended = a.filter(pmod(col("o_orderkey"), lit(101)) === 0)
      .select((col("o_orderkey") + lit(100000000L)).as("o_orderkey"),
        col("o_totalprice"), col("o_orderstatus"))
    val b = survivors.unionByName(appended)
    graft.operators.Cdc.snapshotDiff(a, b, Seq("o_orderkey"),
      Seq("o_totalprice", "o_orderstatus"))
      .groupBy(col("change_type"))
      .agg(count(lit(1)).as("n"), sum(col("o_orderkey")).as("key_sum"))
      .orderBy(col("change_type"))
  }

  val p20Sql: String =
    """WITH diff AS (
      |  SELECT o_orderkey + 100000000 AS o_orderkey, 'added' AS change_type
      |  FROM orders WHERE o_orderkey % 101 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'removed' FROM orders WHERE o_orderkey % 97 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'changed' FROM orders
      |  WHERE o_orderkey % 97 <> 0 AND o_orderkey % 89 = 0)
      |SELECT change_type, COUNT(*)::BIGINT AS n,
      |  SUM(o_orderkey)::BIGINT AS key_sum
      |FROM diff GROUP BY change_type ORDER BY change_type""".stripMargin

  // ---------------------------------------------------------------- p21
  /** Layout-pruning EFFECTIVENESS audit — the "why z-order" receipt: the
    * same events rows are chunked into 64 files under two layouts
    * (linear by event_id vs p06's z-order over the two query dims), each
    * file's min/max column stats are computed, and a 2-D box predicate
    * is pruned against those stats exactly the way a parquet reader
    * prunes on footer min/max. The z-ordered layout scans a small
    * fraction of the files the linear layout touches for the SAME query
    * — the quantified justification for p06's clustered write.
    *
    * This is an offline AUDIT op: at 100 TB the per-file min/max come
    * from footer metadata (a listing-scale read, not a data scan), and
    * the production write path is p06's repartitionByRange — the global
    * ntile windows here exist to make the simulated chunking exactly
    * mirrorable. All columns are integral, so the oracle replays file
    * assignment, stats, and pruning decisions bit-for-bit. */
  def p21LayoutPruning(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val e = spark.read.parquet(s"$dir/events.parquet")
      .select(col("event_id"), col("user_id"))
      .withColumn("uk", pmod(col("user_id"), lit(1024L)))
      .withColumn("ek", pmod(col("event_id"), lit(1024L)))
      .withColumn("zkey", graft.operators.Layout.zorderKey(
        Seq(col("uk"), col("ek")), bits = 10))
    // GLOBAL-WINDOW: DELIBERATE full-table ntile — p21 is the audit-op
    // mirror of file layout (scaladoc above); the production write path
    // is p06's repartitionByRange, which never funnels one partition
    val wLin = org.apache.spark.sql.expressions.Window.orderBy(col("event_id"))
    // GLOBAL-WINDOW: DELIBERATE — same audit-op mirror as wLin
    val wZ = org.apache.spark.sql.expressions.Window
      .orderBy(col("zkey"), col("event_id"))
    val assigned = e.select(lit("1_linear").as("layout"),
        ntile(64).over(wLin).as("file"), col("uk"), col("ek"))
      .unionByName(e.select(lit("2_zorder").as("layout"),
        ntile(64).over(wZ).as("file"), col("uk"), col("ek")))
    val stats = assigned.groupBy(col("layout"), col("file"))
      .agg(min(col("uk")).as("min_uk"), max(col("uk")).as("max_uk"),
        min(col("ek")).as("min_ek"), max(col("ek")).as("max_ek"),
        count(lit(1)).as("n"))
    val scanned = stats.withColumn("hit",
      col("min_uk") <= 200 && col("max_uk") >= 100 &&
        col("min_ek") <= 400 && col("max_ek") >= 300)
    val matching = e.filter(col("uk").between(100, 200) &&
      col("ek").between(300, 400))
      .agg(count(lit(1)).as("rows_matching"))
    scanned.groupBy(col("layout"))
      .agg(count(lit(1)).as("n_files"),
        sum(when(col("hit"), 1L).otherwise(0L)).as("files_scanned"),
        sum(when(col("hit"), col("n")).otherwise(0L)).as("rows_scanned"))
      .crossJoin(broadcast(matching))
      .orderBy(col("layout"))
  }

  val p21Sql: String = {
    val z = graft.operators.Layout.zorderKeySql(
      Seq("user_id % 1024", "event_id % 1024"), bits = 10)
    s"""WITH e AS (
       |  SELECT event_id, user_id % 1024 AS uk, event_id % 1024 AS ek,
       |    ($z)::BIGINT AS zkey
       |  FROM events),
       |assigned AS (
       |  SELECT '1_linear' AS layout,
       |    NTILE(64) OVER (ORDER BY event_id) AS file, uk, ek FROM e
       |  UNION ALL
       |  SELECT '2_zorder',
       |    NTILE(64) OVER (ORDER BY zkey, event_id), uk, ek FROM e),
       |stats AS (
       |  SELECT layout, file, MIN(uk) AS min_uk, MAX(uk) AS max_uk,
       |    MIN(ek) AS min_ek, MAX(ek) AS max_ek, COUNT(*) AS n
       |  FROM assigned GROUP BY 1, 2),
       |m AS (
       |  SELECT COUNT(*) AS rows_matching FROM e
       |  WHERE uk BETWEEN 100 AND 200 AND ek BETWEEN 300 AND 400)
       |SELECT layout, COUNT(*)::BIGINT AS n_files,
       |  SUM(CASE WHEN min_uk <= 200 AND max_uk >= 100
       |            AND min_ek <= 400 AND max_ek >= 300
       |      THEN 1 ELSE 0 END)::BIGINT AS files_scanned,
       |  SUM(CASE WHEN min_uk <= 200 AND max_uk >= 100
       |            AND min_ek <= 400 AND max_ek >= 300
       |      THEN n ELSE 0 END)::BIGINT AS rows_scanned,
       |  ANY_VALUE(m.rows_matching)::BIGINT AS rows_matching
       |FROM stats CROSS JOIN m
       |GROUP BY layout ORDER BY layout""".stripMargin
  }

  // ---------------------------------------------------------------- p22
  /** Declarative data-quality constraint suite
    * ([[graft.operators.QualityConstraints.check]], the Deequ /
    * great-expectations shape): seven constraints over orders —
    * completeness, two value-bound checks (one passing, one designed to
    * FAIL so the verdict path is exercised), pattern conformance, two
    * uniqueness checks (key unique, customer deliberately not), and a
    * broadcast FK containment probe against customer. All row-local
    * metrics fold into ONE scan; metrics are integral micro-fractions,
    * so every verdict and metric mirrors exactly. */
  def p22QualityConstraints(spark: SparkSession, dir: String): DataFrame = {
    import graft.operators.QualityConstraints._
    val o = spark.read.parquet(s"$dir/orders.parquet")
    val c = spark.read.parquet(s"$dir/customer.parquet")
    check(o, Seq(
      Complete("1_complete_status", "o_orderstatus", 1000000L),
      Bounded("2_price_positive", "o_totalprice", 0.0, 1.0e9),
      Bounded("3_price_under_100k", "o_totalprice", 0.0, 100000.0),
      Pattern("4_priority_pattern", "o_orderpriority", "^[1-5]-", 1000000L),
      Unique("5_unique_orderkey", "o_orderkey"),
      Unique("6_unique_custkey", "o_custkey"),
      ContainedIn("7_fk_custkey", "o_custkey", c, "c_custkey")))
  }

  val p22Sql: String =
    """SELECT '1_complete_status' AS check_name,
      |  (COUNT(o_orderstatus) * 1000000 // COUNT(*))::BIGINT AS metric_micro,
      |  COUNT(o_orderstatus) * 1000000 // COUNT(*) >= 1000000 AS passed
      |FROM orders
      |UNION ALL
      |SELECT '2_price_positive',
      |  SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1e9
      |      THEN 1 ELSE 0 END)::BIGINT,
      |  SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 1e9
      |      THEN 1 ELSE 0 END) = 0
      |FROM orders
      |UNION ALL
      |SELECT '3_price_under_100k',
      |  SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 100000
      |      THEN 1 ELSE 0 END)::BIGINT,
      |  SUM(CASE WHEN o_totalprice < 0 OR o_totalprice > 100000
      |      THEN 1 ELSE 0 END) = 0
      |FROM orders
      |UNION ALL
      |SELECT '4_priority_pattern',
      |  (SUM(CASE WHEN REGEXP_MATCHES(o_orderpriority, '^[1-5]-')
      |       THEN 1 ELSE 0 END) * 1000000
      |   // COUNT(o_orderpriority))::BIGINT,
      |  SUM(CASE WHEN REGEXP_MATCHES(o_orderpriority, '^[1-5]-')
      |      THEN 1 ELSE 0 END) * 1000000
      |   // COUNT(o_orderpriority) >= 1000000
      |FROM orders
      |UNION ALL
      |SELECT '5_unique_orderkey',
      |  (COUNT(DISTINCT o_orderkey) * 1000000 // COUNT(o_orderkey))::BIGINT,
      |  COUNT(DISTINCT o_orderkey) = COUNT(o_orderkey)
      |FROM orders
      |UNION ALL
      |SELECT '6_unique_custkey',
      |  (COUNT(DISTINCT o_custkey) * 1000000 // COUNT(o_custkey))::BIGINT,
      |  COUNT(DISTINCT o_custkey) = COUNT(o_custkey)
      |FROM orders
      |UNION ALL
      |SELECT '7_fk_custkey',
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey IS NOT NULL
      |     AND NOT EXISTS (SELECT 1 FROM customer c
      |                     WHERE c.c_custkey = o.o_custkey))::BIGINT,
      |  (SELECT COUNT(*) FROM orders o
      |   WHERE o.o_custkey IS NOT NULL
      |     AND NOT EXISTS (SELECT 1 FROM customer c
      |                     WHERE c.c_custkey = o.o_custkey)) = 0
      |ORDER BY check_name""".stripMargin

  // ---------------------------------------------------------------- p23
  /** LATE-DATA audit — the watermark-sizing report every streaming
    * deployment runs before choosing `withWatermark` bounds: within each
    * user's arrival order (event_id is the ingest sequence), an event's
    * lateness is how far the stream's high-water mark had already passed
    * its event time — running MAX(ts) over arrival order minus own ts.
    * The per-type report (late fraction, p50/p95/p99/max lateness) is
    * exactly the table you read a "set the watermark to p99 + slack"
    * decision from.
    *
    * Scale shape: the running max windows PER USER — millions of small
    * independent partitions, never a global sort (the q56 lesson); the
    * rollup is one partial agg plus exact discrete percentiles (q28's
    * cross-engine-exact variant). */
  def p23LateDataAudit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"event_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    // the synthetic stream arrives perfectly ordered, so (t07-style) a
    // deterministic ±10-hour event-time jitter plants the disorder a
    // real ingest has — both engines derive it identically from event_id
    EventTime.load(spark, dir)
      .select($"event_type", $"user_id", $"event_id",
        ($"ts_us" + (pmod($"event_id" * 7, lit(11)) - 5) * lit(7200000000L))
          .as("ts_eff"))
      .withColumn("late_us", max($"ts_eff").over(w) - $"ts_eff")
      .groupBy($"event_type")
      .agg(
        count(lit(1)).as("n_events"),
        sum(when($"late_us" > 0, 1L).otherwise(0L)).as("n_late"),
        expr("""cast(percentile_disc(0.5)
                 WITHIN GROUP (ORDER BY late_us) as bigint)""")
          .as("p50_late_us"),
        expr("""cast(percentile_disc(0.95)
                 WITHIN GROUP (ORDER BY late_us) as bigint)""")
          .as("p95_late_us"),
        expr("""cast(percentile_disc(0.99)
                 WITHIN GROUP (ORDER BY late_us) as bigint)""")
          .as("p99_late_us"),
        max($"late_us").as("max_late_us"))
      .orderBy($"event_type")
  }

  val p23Sql: String =
    """WITH base AS (
      |  SELECT event_type, user_id, event_id,
      |    epoch_us(ts) + ((event_id * 7) % 11 - 5) * 7200000000 AS ts_eff
      |  FROM events),
      |ev AS (
      |  SELECT event_type,
      |    MAX(ts_eff) OVER (PARTITION BY user_id ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |      - ts_eff AS late_us
      |  FROM base)
      |SELECT event_type, COUNT(*) AS n_events,
      |  SUM(CASE WHEN late_us > 0 THEN 1 ELSE 0 END)::BIGINT AS n_late,
      |  quantile_disc(late_us, 0.5)::BIGINT AS p50_late_us,
      |  quantile_disc(late_us, 0.95)::BIGINT AS p95_late_us,
      |  quantile_disc(late_us, 0.99)::BIGINT AS p99_late_us,
      |  MAX(late_us)::BIGINT AS max_late_us
      |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- p24
  /** Shard-map REBALANCE audit ([[graft.operators.Layout.rendezvousShard]]):
    * every document scored onto 8 rendezvous shards, then onto 9, with
    * the per-shard before/after histogram, how many keys moved into
    * each shard, and the count of ILLEGAL moves (between two old
    * shards) — which rendezvous hashing guarantees is zero: growth only
    * ever moves keys INTO the new shard. This is the audit a store
    * operator runs before resharding a d19/d20/s16 incremental store;
    * the oracle replays every FNV argmax and the zero-illegal-moves
    * invariant exactly. */
  def p24ShardRebalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val a8 = graft.operators.Layout.rendezvousShard(d, "doc_id", 8)
      .withColumnRenamed("shard", "s8")
    val a9 = graft.operators.Layout.rendezvousShard(d, "doc_id", 9)
      .withColumnRenamed("shard", "s9")
    val w = a8.join(a9, "doc_id")
    val shards = (0 until 9).map(_.toLong).toDF("shard")
    val nb = w.groupBy($"s8".as("shard")).agg(count(lit(1)).as("n_before"))
    val na = w.groupBy($"s9".as("shard")).agg(count(lit(1)).as("n_after"))
    val mi = w.filter($"s8" =!= $"s9")
      .groupBy($"s9".as("shard")).agg(count(lit(1)).as("moved_in"))
    val il = w.agg(sum(when($"s8" =!= $"s9" && $"s9" =!= 8, 1L)
      .otherwise(0L)).as("illegal_moves"))
    shards.join(nb, Seq("shard"), "left").join(na, Seq("shard"), "left")
      .join(mi, Seq("shard"), "left")
      .crossJoin(broadcast(il))
      .select($"shard",
        coalesce($"n_before", lit(0L)).as("n_before"),
        coalesce($"n_after", lit(0L)).as("n_after"),
        coalesce($"moved_in", lit(0L)).as("moved_in"),
        $"illegal_moves")
      .orderBy($"shard")
  }

  val p24Sql: String =
    """WITH f0 AS (
      |  SELECT doc_id, n, s, list_reduce(
      |      list_prepend(14695981039346656037::HUGEINT,
      |        [unicode(c)::HUGEINT for c in string_split(
      |          CAST(doc_id AS VARCHAR) || '#' || CAST(s AS VARCHAR), '')]),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT) AS z
      |  FROM documents
      |  CROSS JOIN (SELECT UNNEST([8, 9]) AS n)
      |  CROSS JOIN (SELECT UNNEST(RANGE(0, 9)) AS s)
      |  WHERE s < n),
      |x1 AS (SELECT doc_id, n, s, xor(z, z // 8589934592::HUGEINT) AS z
      |       FROM f0),
      |x2 AS (SELECT doc_id, n, s,
      |  ((z % 4294967296::HUGEINT) * 3981806797::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 4283543511::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 3981806797::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM x1),
      |x3 AS (SELECT doc_id, n, s, xor(z, z // 8589934592::HUGEINT) AS z
      |       FROM x2),
      |x4 AS (SELECT doc_id, n, s,
      |  ((z % 4294967296::HUGEINT) * 444984403::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 3301882366::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 444984403::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM x3),
      |hs AS (
      |  SELECT doc_id, n, s,
      |    CAST(CASE WHEN f >= 9223372036854775808::HUGEINT
      |         THEN f - 18446744073709551616::HUGEINT ELSE f
      |         END AS BIGINT) AS hv
      |  FROM (SELECT doc_id, n, s, xor(z, z // 8589934592::HUGEINT) AS f
      |        FROM x4)),
      |asg AS (
      |  SELECT h.doc_id, h.n, MIN(h.s) AS shard
      |  FROM hs h JOIN (SELECT doc_id, n, MAX(hv) AS mh FROM hs
      |                  GROUP BY 1, 2) m
      |    ON m.doc_id = h.doc_id AND m.n = h.n AND h.hv = m.mh
      |  GROUP BY 1, 2),
      |w AS (
      |  SELECT a8.doc_id, a8.shard AS s8, a9.shard AS s9
      |  FROM (SELECT * FROM asg WHERE n = 8) a8
      |  JOIN (SELECT * FROM asg WHERE n = 9) a9 USING (doc_id)),
      |sh AS (SELECT UNNEST(RANGE(0, 9)) AS shard),
      |nb AS (SELECT s8 AS shard, COUNT(*) AS n_before FROM w GROUP BY 1),
      |na AS (SELECT s9 AS shard, COUNT(*) AS n_after FROM w GROUP BY 1),
      |mi AS (SELECT s9 AS shard, COUNT(*) AS moved_in FROM w
      |       WHERE s8 <> s9 GROUP BY 1),
      |il AS (SELECT COUNT(*) FILTER (s8 <> s9 AND s9 <> 8)::BIGINT
      |         AS illegal_moves FROM w)
      |SELECT shard::BIGINT AS shard,
      |  COALESCE(n_before, 0)::BIGINT AS n_before,
      |  COALESCE(n_after, 0)::BIGINT AS n_after,
      |  COALESCE(moved_in, 0)::BIGINT AS moved_in,
      |  il.illegal_moves
      |FROM sh LEFT JOIN nb USING (shard) LEFT JOIN na USING (shard)
      |LEFT JOIN mi USING (shard) CROSS JOIN il
      |ORDER BY shard""".stripMargin

  // ---------------------------------------------------------------- p25
  /** LEAKAGE-SAFE train/val/test split — the contamination-aware upgrade
    * of p08: near-duplicate documents must land in the SAME split, or
    * eval metrics silently measure memorization. Each doc's split hash
    * is computed on its dedup-cluster ANCHOR (the d12 connected-
    * component id; singletons anchor on themselves), so a whole near-dup
    * cluster moves as one unit; the p08 md5 rule and 80/10/10 cuts are
    * unchanged. The gate also measures the damage the naive per-doc
    * split WOULD have done: `naive_leaky_pairs` counts near-dup pairs
    * straddling splits under per-doc hashing (non-zero on this corpus),
    * while the cluster-aware assignment's `leaky_pairs` is structurally
    * zero — both replayed exactly by the oracle. */
  def p25LeakageSafeSplit(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val edges = DedupQueries.neardupPairs(spark, dir, 0.7)
    val labels = DedupQueries.neardupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id").as("anchor"))
    def splitOf(keyCol: Column): Column = {
      val h = md5(concat(lit("split1:"), keyCol.cast("string")))
      def digit(i: Int) = {
        val a = ascii(substring(h, i, 1))
        a - lit(48) - when(a >= 97, lit(39)).otherwise(lit(0))
      }
      val v = digit(1) * 256 + digit(2) * 16 + digit(3)
      when(v < 3277, "train").when(v < 3686, "val").otherwise("test")
    }
    val assigned = d.select(col("doc_id"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("anchor", coalesce(col("anchor"), col("doc_id")))
      .withColumn("split", splitOf(col("anchor")))
      .withColumn("naive_split", splitOf(col("doc_id")))
    val pairSplits = edges.select(col("id_a"), col("id_b"))
      .join(assigned.select(col("doc_id").as("id_a"),
        col("split").as("sa"), col("naive_split").as("na")), "id_a")
      .join(assigned.select(col("doc_id").as("id_b"),
        col("split").as("sb"), col("naive_split").as("nb")), "id_b")
    val leaks = pairSplits.agg(
      sum(when(col("sa") =!= col("sb"), 1L).otherwise(0L))
        .as("leaky_pairs"),
      sum(when(col("na") =!= col("nb"), 1L).otherwise(0L))
        .as("naive_leaky_pairs"))
    assigned.groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("anchor")).as("n_clusters"))
      .crossJoin(broadcast(leaks))
      .orderBy(col("split"))
  }

  val p25Sql: String = {
    val splitExpr = (key: String) =>
      s"""CASE WHEN (ASCII(SUBSTR(MD5('split1:' || $key), 1, 1)) - 48
         |  - CASE WHEN ASCII(SUBSTR(MD5('split1:' || $key), 1, 1)) >= 97
         |         THEN 39 ELSE 0 END) * 256
         |  + (ASCII(SUBSTR(MD5('split1:' || $key), 2, 1)) - 48
         |  - CASE WHEN ASCII(SUBSTR(MD5('split1:' || $key), 2, 1)) >= 97
         |         THEN 39 ELSE 0 END) * 16
         |  + (ASCII(SUBSTR(MD5('split1:' || $key), 3, 1)) - 48
         |  - CASE WHEN ASCII(SUBSTR(MD5('split1:' || $key), 3, 1)) >= 97
         |         THEN 39 ELSE 0 END) < 3277 THEN 'train'
         |  WHEN (ASCII(SUBSTR(MD5('split1:' || $key), 1, 1)) - 48
         |  - CASE WHEN ASCII(SUBSTR(MD5('split1:' || $key), 1, 1)) >= 97
         |         THEN 39 ELSE 0 END) * 256
         |  + (ASCII(SUBSTR(MD5('split1:' || $key), 2, 1)) - 48
         |  - CASE WHEN ASCII(SUBSTR(MD5('split1:' || $key), 2, 1)) >= 97
         |         THEN 39 ELSE 0 END) * 16
         |  + (ASCII(SUBSTR(MD5('split1:' || $key), 3, 1)) - 48
         |  - CASE WHEN ASCII(SUBSTR(MD5('split1:' || $key), 3, 1)) >= 97
         |         THEN 39 ELSE 0 END) < 3686 THEN 'val'
         |  ELSE 'test' END""".stripMargin
    s"""WITH labels AS (
       |${DedupQueries.all("d12_dedup_clusters")._2.linesIterator
            .map("  " + _).mkString("\n")}
       |),
       |pairs AS (
       |${DedupQueries.all("d04_ngram_jaccard")._2.linesIterator
            .map("  " + _).mkString("\n")}
       |),
       |assigned AS (
       |  SELECT d.doc_id, COALESCE(l.cluster_id, d.doc_id) AS anchor,
       |    ${splitExpr("COALESCE(l.cluster_id, d.doc_id)").linesIterator
              .mkString("\n    ")} AS split,
       |    ${splitExpr("d.doc_id").linesIterator.mkString("\n    ")}
       |      AS naive_split
       |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id),
       |leaks AS (
       |  SELECT
       |    SUM(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)::BIGINT
       |      AS leaky_pairs,
       |    SUM(CASE WHEN a.naive_split <> b.naive_split THEN 1 ELSE 0
       |        END)::BIGINT AS naive_leaky_pairs
       |  FROM pairs p
       |  JOIN assigned a ON a.doc_id = p.id_a
       |  JOIN assigned b ON b.doc_id = p.id_b)
       |SELECT split, COUNT(*) AS n_docs,
       |  COUNT(DISTINCT anchor) AS n_clusters,
       |  leaks.leaky_pairs, leaks.naive_leaky_pairs
       |FROM assigned CROSS JOIN leaks
       |GROUP BY split, leaks.leaky_pairs, leaks.naive_leaky_pairs
       |ORDER BY split""".stripMargin
  }

  // ---------------------------------------------------------------- p26
  /** Source CONCENTRATION report — the exact Gini coefficient of token
    * mass across sources, the dataset-card number that says whether a
    * corpus is balanced or one crawl dominates (G = 0 perfectly even,
    * → 1 monopolized). Exact integer mean-absolute-difference form:
    * G·(2n·Σx) = ΣᵢΣⱼ|xᵢ−xⱼ| — the pairwise sum runs over the
    * |sources|-row SUMMARY (a broadcast self-join of a 20-row table at
    * any corpus scale; the corpus itself pays one partial-agg token
    * count), so the statistic is a metadata query, never a rescan. */
  def p26SourceConcentration(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val bySource = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy($"source")
      .agg(sum(TextAnalysis.tokenCount($"text")).as("toks"))
      .localCheckpoint()
    val pairs = bySource.select($"toks".as("xa"))
      .crossJoin(broadcast(bySource.select($"toks".as("xb"))))
    val mad = pairs.agg(
      sum(expr("cast(abs(xa - xb) as decimal(38,0))")).as("num"))
    bySource.agg(count(lit(1)).as("n_sources"),
      sum($"toks").as("total_tokens"),
      max($"toks").as("max_source_tokens"))
      .crossJoin(broadcast(mad))
      .select($"n_sources", $"total_tokens", $"max_source_tokens",
        expr("""cast((num * 1000000)
                 div (cast(2 as decimal(38,0)) * n_sources * total_tokens)
                 as bigint)""").as("gini_micro"),
        expr("""cast((cast(max_source_tokens as decimal(38,0)) * 1000000)
                 div total_tokens as bigint)""").as("top_share_micro"))
  }

  val p26Sql: String =
    """WITH s AS (
      |  SELECT source,
      |    SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |        ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))
      |        END)::BIGINT AS toks
      |  FROM documents GROUP BY source),
      |mad AS (
      |  SELECT SUM(ABS(a.toks::HUGEINT - b.toks)) AS num
      |  FROM s a CROSS JOIN s b)
      |SELECT COUNT(*)::BIGINT AS n_sources,
      |  SUM(toks)::BIGINT AS total_tokens,
      |  MAX(toks)::BIGINT AS max_source_tokens,
      |  CAST((mad.num * 1000000)
      |       // (2::HUGEINT * COUNT(*) * SUM(toks)) AS BIGINT)
      |    AS gini_micro,
      |  CAST((MAX(toks)::HUGEINT * 1000000) // SUM(toks) AS BIGINT)
      |    AS top_share_micro
      |FROM s CROSS JOIN mad
      |GROUP BY mad.num""".stripMargin

  // ---------------------------------------------------------------- p27
  /** Temperature (α = 0.5) mixture weights per source — the sampling
    * table a multilingual/multi-source training run is driven by: token
    * counts stay integers, each source's relative weight is
    * ⌊10⁶·√tokens / √max-tokens⌋ (exactly 1 000 000 for the largest
    * source), so the head is damped and the tail upsampled. Max-
    * normalization (not
    * Σ-normalization) keeps the result bit-deterministic under shuffle
    * reordering; see [[graft.operators.Layout.temperatureMixture]]. */
  def p27MixtureWeights(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Layout.temperatureMixture(
      spark.read.parquet(s"$dir/documents.parquet"), "source",
      TextAnalysis.tokenCount($"text"))
      .orderBy("source")
  }

  val p27Sql: String =
    """WITH s AS (
      |  SELECT source, COUNT(*)::BIGINT AS n_docs,
      |    SUM(CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |        ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+'))
      |        END)::BIGINT AS tok_count
      |  FROM documents GROUP BY source)
      |SELECT source, n_docs, tok_count,
      |  FLOOR(SQRT(tok_count::DOUBLE)
      |        / SQRT((MAX(tok_count) OVER ())::DOUBLE)
      |        * 1000000)::BIGINT AS rel_weight_micro
      |FROM s ORDER BY source""".stripMargin

  // ---------------------------------------------------------------- p28
  /** Join-key SKEW AUDIT ([[graft.operators.SkewJoin.skewAudit]]) of
    * `events.user_id` — the pre-flight run before every large join to
    * decide plain shuffle vs AQE skew split vs [[SkewJoin.saltedInnerJoin]]
    * (p02): exact key census, discrete-median-relative skew factor in
    * micro-units, the count of 10×-median heavy keys, and the integer
    * ⌈max·n_keys/total⌉ salt factor that would split the hottest key
    * into average-sized shuffle units. One partial-agg shuffle over the
    * key column only (pruned scan), then metadata-scale arithmetic. */
  def p28SkewAudit(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    SkewJoin.skewAudit(
      spark.read.parquet(s"$dir/events.parquet").select("user_id"),
      "user_id")
  }

  val p28Sql: String =
    """WITH c AS (
      |  SELECT user_id, COUNT(*)::BIGINT AS cnt FROM events GROUP BY 1),
      |med AS (
      |  SELECT quantile_disc(cnt, 0.5)::BIGINT AS median_rows FROM c)
      |SELECT COUNT(*)::BIGINT AS n_keys,
      |  SUM(cnt)::BIGINT AS total_rows,
      |  MAX(cnt)::BIGINT AS max_rows,
      |  MAX(median_rows)::BIGINT AS median_rows,
      |  CAST((MAX(cnt)::BIGINT * 1000000) // MAX(median_rows) AS BIGINT)
      |    AS skew_micro,
      |  SUM(CASE WHEN cnt > median_rows * 10 THEN 1 ELSE 0 END)::BIGINT
      |    AS heavy_keys,
      |  CAST((MAX(cnt)::BIGINT * COUNT(*) + SUM(cnt) - 1) // SUM(cnt)
      |    AS BIGINT) AS salt_factor
      |FROM c CROSS JOIN med""".stripMargin

  // ---------------------------------------------------------------- p29
  /** Dedup token-YIELD by source — the curation-budget report that says
    * which crawls actually contribute unique data once near-dup clusters
    * (d12's 3-gram Jaccard graph) collapse to their anchor: per source,
    * docs/tokens before vs after anchor-keep dedup and the integral
    * yield ratio. A source whose tokens vanish here is redundant with
    * the rest of the corpus (cross-source clusters keep ONE anchor, so
    * the loss lands on the non-anchor sources — the actionable signal
    * d24's pairwise overlap matrix only hints at).
    *
    * Scale shape: the cluster labels come from the banded pair join +
    * O(log d) hash-min CC (never all-pairs); the yield accounting is a
    * label join plus ONE source-keyed partial agg. Survivor POLICY is
    * deliberately anchor-keep (p25's rule) so splits and yield audits
    * agree; quality-ranked survivor choice is d13's concern. */
  def p29DedupYield(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
    val labels = DedupQueries.neardupClusters(spark, dir)
    d.select($"doc_id", $"source",
        TextAnalysis.tokenCount($"text").as("toks"))
      .join(labels, Seq("doc_id"), "left")
      .withColumn("kept", col("doc_id") ===
        coalesce(col("cluster_id"), col("doc_id")))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"kept", 1L).otherwise(0L)).as("n_kept"),
        sum($"toks").as("tokens_total"),
        sum(when($"kept", $"toks").otherwise(0L)).as("tokens_kept"))
      .select($"source", $"n_docs", $"n_kept", $"tokens_total",
        $"tokens_kept",
        expr("""cast((cast(tokens_kept as decimal(38,0)) * 1000000)
                 div tokens_total as bigint)""").as("yield_micro"))
      .orderBy($"source")
  }

  val p29Sql: String =
    s"""WITH labels AS (
       |${DedupQueries.all("d12_dedup_clusters")._2.linesIterator
            .map("  " + _).mkString("\n")}
       |),
       |j AS (
       |  SELECT d.source,
       |    CASE WHEN d.text IS NULL OR LENGTH(TRIM(d.text)) = 0 THEN 0
       |         ELSE LEN(STRING_SPLIT_REGEX(TRIM(d.text), '\\s+')) END
       |      AS toks,
       |    d.doc_id = COALESCE(l.cluster_id, d.doc_id) AS kept
       |  FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id)
       |SELECT source, COUNT(*)::BIGINT AS n_docs,
       |  SUM(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       |  SUM(toks)::BIGINT AS tokens_total,
       |  SUM(CASE WHEN kept THEN toks ELSE 0 END)::BIGINT AS tokens_kept,
       |  CAST(SUM(CASE WHEN kept THEN toks ELSE 0 END)::HUGEINT * 1000000
       |    // SUM(toks) AS BIGINT) AS yield_micro
       |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- p30
  /** Token-budget selection report: pick the highest-quality documents
    * (t03's score, ties doc_id-ascending) until ¼ of the corpus's tokens
    * are spent, report docs/tokens selected per source. The engine runs
    * [[Layout.budgetSelect]]'s recursive radix selection (histogram
    * thresholds, never a corpus global sort); the oracle states the same
    * semantics as the naive global ordered prefix sum — the gate IS the
    * equivalence proof. */
  def p30BudgetSelect(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select($"doc_id", $"source", $"text")
    val withQ = d.select($"doc_id", $"source",
      TextAnalysis.tokenCount($"text").as("toks"),
      TextAnalysis.qualityScore($"text").as("q"))
    val sel = Layout.budgetSelect(withQ, "doc_id", $"q", $"toks",
      expr("sum(toks) div 4"), bucketWidth = 64L)
    sel.groupBy($"source")
      .agg(count(lit(1)).as("n_sel"), sum($"toks").as("toks_sel"))
      .orderBy($"source")
  }

  val p30Sql: String =
    """WITH qbase AS (
      |  SELECT doc_id, source, text,
      |    STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\s+') AS w,
      |    CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
      |         ELSE LEN(STRING_SPLIT_REGEX(TRIM(text), '\s+')) END
      |      AS n_tok
      |  FROM documents),
      |qd AS (
      |  SELECT doc_id, source, n_tok,
      |    CASE WHEN LENGTH(text) = 0 THEN 0.0
      |         ELSE (LENGTH(text) - LENGTH(REGEXP_REPLACE(text,
      |                '[^\p{L}\p{N}\s]', '', 'g')))::DOUBLE
      |              / LENGTH(text)::DOUBLE END AS pr,
      |    CASE WHEN LEN(w) = 0 THEN 0.0
      |         ELSE LENGTH(REGEXP_REPLACE(LOWER(TRIM(text)), '\s+', '',
      |                'g'))::DOUBLE / LEN(w)::DOUBLE END AS mtl
      |  FROM qbase),
      |d AS (
      |  SELECT doc_id, source, n_tok::BIGINT AS toks,
      |    ROUND(
      |      (CASE WHEN n_tok >= 10 AND n_tok <= 10000 THEN 1.0
      |            ELSE 0.0 END) * 0.4
      |      + (1.0 - LEAST(pr * 5.0, 1.0)) * 0.3
      |      + (CASE WHEN mtl >= 3.0 AND mtl <= 12.0 THEN 1.0
      |             ELSE 0.0 END) * 0.3, 4) AS q
      |  FROM qd),
      |b AS (SELECT SUM(toks)::BIGINT // 4 AS budget FROM d),
      |r AS (
      |  SELECT doc_id, source, toks, q,
      |    SUM(toks) OVER (ORDER BY q DESC, doc_id ASC) AS cum
      |  FROM d)
      |SELECT source, COUNT(*)::BIGINT AS n_sel,
      |  SUM(toks)::BIGINT AS toks_sel
      |FROM r, b WHERE cum <= budget
      |GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- p31
  /** DELETION-PROPAGATION audit (the right-to-be-forgotten pass every
    * production corpus owes its users): for a deletion list (user_id %
    * 97 = 0 — the stand-in for an erasure-request table), report per
    * event_type how many events reference deleted users, the row and
    * value mass removed, and the surviving residue — the audit row a
    * compliance reviewer signs. The deletion list collapses to a
    * distinct-key frame and BROADCASTS; the corpus pays one scan with a
    * broadcast semi-split, never a shuffle on the deletion key. */
  def p31DeletionAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = EventTime.load(spark, dir)
      .select(col("event_type"), col("user_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("bigint")
          .as("cents"))
    val del = e.select(col("user_id")).distinct()
      .filter(pmod(col("user_id"), lit(97)) === 0)
    e.join(broadcast(del.withColumn("del", lit(1L))), Seq("user_id"),
        "left")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("del").isNotNull, 1L).otherwise(0L))
          .as("n_deleted"),
        sum(when(col("del").isNotNull, col("cents")).otherwise(0L))
          .as("cents_deleted"),
        countDistinct(when(col("del").isNotNull, col("user_id")))
          .as("users_deleted"))
      .select(col("event_type"), col("n_events"), col("n_deleted"),
        (col("n_events") - col("n_deleted")).as("n_surviving"),
        col("cents_deleted"), col("users_deleted"))
      .orderBy("event_type")
  }

  val p31Sql: String =
    """WITH e AS (
      |  SELECT event_type, user_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    user_id % 97 = 0 AS del
      |  FROM events)
      |SELECT event_type, COUNT(*)::BIGINT AS n_events,
      |  SUM(CASE WHEN del THEN 1 ELSE 0 END)::BIGINT AS n_deleted,
      |  (COUNT(*) - SUM(CASE WHEN del THEN 1 ELSE 0 END))::BIGINT
      |    AS n_surviving,
      |  SUM(CASE WHEN del THEN cents ELSE 0 END)::BIGINT
      |    AS cents_deleted,
      |  COUNT(DISTINCT CASE WHEN del THEN user_id END)::BIGINT
      |    AS users_deleted
      |FROM e GROUP BY 1 ORDER BY 1""".stripMargin

  // ---------------------------------------------------------------- p32
  /** INGESTION FRESHNESS / LAG AUDIT — per event type: last-seen
    * timestamp, lag behind the freshest type in whole minutes, and a
    * stale flag at the 60-minute SLA. The ops tripwire for a dead
    * upstream producer: one type's lag growing while the corpus max
    * advances means its pipeline stopped, a condition no row-level
    * quality check can see. One corpus pass collapses to ≤|types| rows
    * via map-side partial agg; the corpus max rides back as a broadcast
    * 1-row frame; everything stays in integral epoch-µs. */
  def p32FreshnessLag(spark: SparkSession, dir: String): DataFrame = {
    val per = EventTime.load(spark, dir)
      .select(col("event_type"), col("ts_us"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), max(col("ts_us")).as("max_ts_us"))
    val corpusMax = per.agg(max(col("max_ts_us")).as("corpus_max_us"))
    per.crossJoin(broadcast(corpusMax))
      .select(col("event_type"), col("n_events"), col("max_ts_us"),
        expr("(corpus_max_us - max_ts_us) div 60000000")
          .as("lag_minutes"),
        (expr("(corpus_max_us - max_ts_us) div 60000000") > 60)
          .cast("int").as("is_stale"))
      .orderBy("event_type")
  }

  val p32Sql: String =
    """WITH per AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_events,
      |    MAX(epoch_us(ts))::BIGINT AS max_ts_us
      |  FROM events GROUP BY 1),
      |g AS (SELECT MAX(max_ts_us) AS corpus_max_us FROM per)
      |SELECT event_type, n_events, max_ts_us,
      |  ((corpus_max_us - max_ts_us) // 60000000)::BIGINT AS lag_minutes,
      |  ((corpus_max_us - max_ts_us) // 60000000 > 60)::INT AS is_stale
      |FROM per CROSS JOIN g ORDER BY event_type""".stripMargin

  // ---------------------------------------------------------------- p33
  /** K-ANONYMITY RISK CENSUS — the privacy audit beside p31's deletion
    * propagation: group the corpus by a quasi-identifier tuple
    * ((lang, source, 500-char length band) — the attributes a
    * re-identification join would key on) and report how much of the
    * corpus sits in small equivalence classes. A document alone in its
    * class (k=1) is individually re-identifiable from the quasi-ids
    * alone; the k-bucket census (1 / 2-4 / 5-9 / 10-49 / 50+) with row
    * mass and integral shares is the number a release review reads.
    * One quasi-id-keyed partial agg (bounded by distinct tuples), a
    * 5-row census, shares via a window over those 5 rows. */
  def p33KAnonymity(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val groups = spark.read.parquet(s"$dir/documents.parquet")
      .groupBy(col("lang"), col("source"),
        expr("n_chars div 500").as("size_band"))
      .agg(count(lit(1)).as("k"))
    val census = groups
      .select(
        when(col("k") === 1, "k=1")
          .when(col("k") <= 4, "k=2-4")
          .when(col("k") <= 9, "k=5-9")
          .when(col("k") <= 49, "k=10-49")
          .otherwise("k=50+").as("k_bucket"),
        col("k"))
      .groupBy("k_bucket")
      .agg(count(lit(1)).as("n_groups"), sum(col("k")).as("n_rows"))
    census
      // GLOBAL-WINDOW: bounded — scalar total over the k-bucket census
      // (≤ |distinct k buckets| rows), not the grouped corpus
      .withColumn("total", sum(col("n_rows")).over(
        Window.rowsBetween(Window.unboundedPreceding,
          Window.unboundedFollowing)))
      .select(col("k_bucket"), col("n_groups"), col("n_rows"),
        // decimal(38,0) product: the oracle accumulates HUGEINT, so a
        // bigint n*1e6 would wrap first at ~9.2e12 rows per bucket
        expr("""cast((cast(n_rows as decimal(38,0)) * 1000000)
                 div total as bigint)""").as("rows_share_micro"))
      .orderBy("k_bucket")
  }

  val p33Sql: String =
    """WITH groups AS (
      |  SELECT lang, source, n_chars // 500 AS size_band,
      |    COUNT(*)::BIGINT AS k
      |  FROM documents GROUP BY 1, 2, 3),
      |census AS (
      |  SELECT CASE WHEN k = 1 THEN 'k=1'
      |              WHEN k <= 4 THEN 'k=2-4'
      |              WHEN k <= 9 THEN 'k=5-9'
      |              WHEN k <= 49 THEN 'k=10-49'
      |              ELSE 'k=50+' END AS k_bucket,
      |    COUNT(*)::BIGINT AS n_groups, SUM(k)::BIGINT AS n_rows
      |  FROM groups GROUP BY 1)
      |SELECT k_bucket, n_groups, n_rows,
      |  CAST(n_rows::HUGEINT * 1000000 // SUM(n_rows) OVER () AS BIGINT)
      |    AS rows_share_micro
      |FROM census ORDER BY k_bucket""".stripMargin

  // ---------------------------------------------------------------- p34
  /** RUNNING CORPUS TOTAL via the scalable two-phase prefix sum
    * ([[graft.operators.ScalablePrefix.cumSum]]) — the production
    * spelling of "SUM(...) OVER (ORDER BY ...)" at corpus scale. Every
    * bounded global window in this repo pins "repartitionByRange +
    * per-partition prefix + broadcast offsets" as its restructure path;
    * this gate runs that path over the RAW documents table (exactly the
    * frame a single-partition WindowExec must never see) and the oracle
    * replays it as the plain SQL window. No Window node appears in the
    * physical plan (pinned in `PlanQualitySpec`); readout sampled to
    * every 50th doc so the result table stays gate-sized while the
    * prefix sum itself covers every row. */
  def p34RunningTotal(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("n_chars"))
    graft.operators.ScalablePrefix.cumSum(d, "doc_id", "n_chars")
      .filter(pmod(col("doc_id"), lit(50L)) === 0)
      .select(col("doc_id"), col("n_chars"),
        col("run_sum").as("run_chars"))
      .orderBy("doc_id")
  }

  val p34Sql: String =
    """SELECT doc_id, n_chars, run_chars FROM (
      |  SELECT doc_id, n_chars::BIGINT AS n_chars,
      |    SUM(n_chars::BIGINT) OVER (ORDER BY doc_id)::BIGINT AS run_chars
      |  FROM documents)
      |WHERE doc_id % 50 = 0 ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------------------- p35
  /** Tie-safe running total ([[graft.operators.ScalablePrefix
    * .cumSumTieSafe]], VERDICT r19 #4): p34's prefix sum requires a
    * UNIQUE order key; this gate runs the compound-key variant over a
    * deliberately duplicate-HEAVY order key (the n_chars÷100 size
    * bucket — thousands of docs per bucket) with doc_id breaking ties,
    * ROWS-frame semantics, and the oracle replays it as the plain SQL
    * window over the same compound order. Same scale contract: range
    * exchange + per-partition prefix + broadcast offsets, no WindowExec,
    * driver sees `numPartitions` longs. */
  def p35RunningTotalTies(spark: SparkSession, dir: String): DataFrame = {
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(expr("n_chars div 100").as("k"),
        col("doc_id"), col("n_chars"))
    graft.operators.ScalablePrefix
      .cumSumTieSafe(d, "k", "doc_id", "n_chars")
      .filter(pmod(col("doc_id"), lit(50L)) === 0)
      .select(col("k"), col("doc_id"), col("n_chars"),
        col("run_sum").as("run_chars"))
      .orderBy("doc_id")
  }

  val p35Sql: String =
    """SELECT k, doc_id, n_chars, run_chars FROM (
      |  SELECT n_chars // 100 AS k, doc_id, n_chars::BIGINT AS n_chars,
      |    SUM(n_chars::BIGINT) OVER (
      |      ORDER BY n_chars // 100, doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
      |    )::BIGINT AS run_chars
      |  FROM documents)
      |WHERE doc_id % 50 = 0 ORDER BY doc_id""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "p35_running_total_ties" -> (p35RunningTotalTies _, p35Sql),
    "p34_running_total" -> (p34RunningTotal _, p34Sql),
    "p33_k_anonymity" -> (p33KAnonymity _, p33Sql),
    "p32_freshness_lag" -> (p32FreshnessLag _, p32Sql),
    "p31_deletion_audit" -> (p31DeletionAudit _, p31Sql),
    "p30_budget_select" -> (p30BudgetSelect _, p30Sql),
    "p29_dedup_yield" -> (p29DedupYield _, p29Sql),
    "p28_skew_audit" -> (p28SkewAudit _, p28Sql),
    "p27_mixture_weights" -> (p27MixtureWeights _, p27Sql),
    "p26_source_concentration" -> (p26SourceConcentration _, p26Sql),
    "p25_leakage_safe_split" -> (p25LeakageSafeSplit _, p25Sql),
    "p24_shard_rebalance" -> (p24ShardRebalance _, p24Sql),
    "p23_late_data_audit" -> (p23LateDataAudit _, p23Sql),
    "p22_quality_constraints" -> (p22QualityConstraints _, p22Sql),
    "p21_layout_pruning" -> (p21LayoutPruning _, p21Sql),
    "p20_snapshot_diff" -> (p20SnapshotDiff _, p20Sql),
    "p19_incremental_curation" -> (p19IncrementalCuration _, p19Sql),
    "p18_curation_report" -> (p18CurationReport _, p18Sql),
    "p17_mixture_plan" -> (p17MixturePlan _, p17Sql),
    "p15_incremental_agg" -> (p15IncrementalAgg _, p15Sql),
    "p16_bucketed_join" -> (p16BucketedJoin _, p16Sql),
    "p13_cdc_snapshot" -> (p13CdcSnapshot _, p13Sql),
    "p14_dataset_checksum" -> (p14DatasetChecksum _, p14Sql),
    "p06_zorder_layout" -> (p06ZorderLayout _, p06Sql),
    "p07_scd2_merge" -> (p07Scd2Merge _, p07Sql),
    "p08_split_assign" -> (p08SplitAssign _, p08Sql),
    "p01_corpus_clean" -> (p01CorpusClean _, p01Sql),
    "p02_salted_join" -> (p02SaltedJoin _, p02Sql),
    "p03_stratified_sample" -> (p03StratifiedSample _, p03Sql),
    "p04_epoch_shuffle" -> (p04EpochShuffle _, p04Sql),
    "p05_sequence_packing" -> (p05SequencePacking _, p05Sql),
    "p09_mixture_sample" -> (p09MixtureSample _, p09Sql),
    "p10_compaction_plan" -> (p10CompactionPlan _, p10Sql),
    "p11_quality_report" -> (p11QualityReport _, p11Sql),
    "p12_dataset_card" -> (p12DatasetCard _, p12Sql),
  )
}
