package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Oracle-checked end-to-end exercise of the Excel DSv2 connector: a parquet
  * table is pushed through `df.write.format("excel")` and read back with
  * `spark.read.format("excel")`; the oracle is simply the original table, so
  * any loss in the writer→codec→reader→conversion chain hash-mismatches. */
object ConnectorQueries {

  /** Distinguishes per-invocation stream state (checkpoint dir, memory
    * sink name) for gates whose INPUT staging is session-cached — see
    * [[excelStreamStreamJoin]], [[excelStreamCdc]],
    * [[excelStreamLateData]]. A reused AvailableNow checkpoint over
    * cached inputs would admit zero new files and return an empty
    * table, so checkpoints are always fresh even when staging is not. */
  private[queries] val streamRunCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** Shard fan-out for a staged stream batch: enough files that the
    * per-batch xlsx DECODE parallelizes (a coalesce(1) sheet decodes on
    * ONE task — measured as d08/d16's bottleneck), scale-adaptive so no
    * shard approaches Excel's 1,048,576-row sheet cap (400k rows/shard
    * leaves 2.6× headroom AT ANY VOLUME — shards grow ∝ rows with no
    * cap, the ssjoin staging precedent; the former min(64, …) cap would
    * have eroded the headroom above ~25.6M rows/batch and hit the
    * writer's loud sheet-cap guard above ~67M, ADVICE r20), floor 4 for
    * local parallelism. Runs one count() job — callers invoke it INSIDE
    * their cachedStaging build so a session pays it once. */
  private[queries] def streamBatchShards(df: DataFrame): Int =
    math.max(4, math.ceil(df.count() / 400000.0).toInt)

  /** The shard count actually staged in `dir` (local listing — cache
    * hits must never re-count the corpus). Drives maxFilesPerTrigger so
    * one micro-batch admits exactly one staged batch: admission is a
    * name-ordered prefix and ".../a/part-*" sorts before ".../b/part-*". */
  private[queries] def stagedShardCount(dir: File): Int =
    math.max(1, Option(dir.listFiles())
      .map(_.count(_.getName.endsWith(".xlsx"))).getOrElse(1))

  /** Recursive .xlsx count under a staged root — drives
    * maxFilesPerTrigger for the order-commutative gates that admit ALL
    * staged batches in one micro-batch (VERDICT r20 #3: one WAL/state
    * commit instead of one per batch). Local listing only; cache hits
    * never re-count the corpus. */
  private[queries] def stagedXlsxTotal(dir: File): Int = {
    def walk(f: File): Int =
      if (f.isDirectory)
        Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".xlsx")) 1
      else 0
    math.max(1, walk(dir))
  }

  /** Private session for a streaming gate: 8 shuffle partitions (state
    * fan-out A/B'd in r19 — one store per partition per operator, 32 was
    * pure small-file overhead) and a parameterized state-store provider.
    * The default stays Spark's HDFS-backed store — A/B'd against RocksDB
    * this round (r21): at this state size RocksDB's per-partition
    * instance + changelog machinery measured flat-to-slower, but at
    * 100 TB state (multi-GB keyed state per partition) RocksDB is the
    * production choice, so the knob is an env/conf, not a code fork.
    * A PRIVATE session scopes both confs to this query instead of
    * mutating the caller's session. */
  private[queries] def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    sys.env.get("SPARK_GRAFT_STATE_STORE").foreach(p =>
      ss.conf.set("spark.sql.streaming.stateStore.providerClass", p))
    ss
  }

  /** Names this process's stream run dirs (see [[runDir]]), so two
    * processes sharing a tmp base never reclaim each other's dirs. */
  private[queries] val runToken: String =
    java.util.UUID.randomUUID().toString.take(8)

  /** A per-invocation stream dir (`kind` = out / ckpt) under a gate's
    * tmp base: `<kind>_<runToken>_<run>`. */
  private[queries] def runDir(base: File, kind: String, run: Int): File =
    new File(base, s"${kind}_${runToken}_$run")

  /** Remove this process's PRIOR per-invocation stream dirs under a
    * gate's tmp base: these were only reclaimed by the next cache-miss
    * rm(base), so a long-lived session invoking streaming gates
    * repeatedly accumulated checkpoint/sink dirs without bound (ADVICE
    * r20). Called at gate entry before the new run's dirs are created;
    * bench/verify sessions run gates sequentially, so none of this
    * process's live runs can match, and another process's dirs (another
    * [[runToken]]) — possibly a live checkpoint — are never touched. */
  private[queries] def cleanStreamRunDirs(base: File): Unit =
    Option(base.listFiles()).foreach(_.foreach { f =>
      if (f.getName.matches(s"(out|ckpt)_${runToken}_\\d+")) {
        def rm(g: File): Unit = {
          if (g.isDirectory) Option(g.listFiles()).foreach(_.foreach(rm))
          g.delete()
        }
        rm(f)
      }
    })

  def excelRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val out = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_roundtrip_${math.abs(dir.hashCode)}.xlsx").getAbsolutePath
    nation.coalesce(1).write.format("excel").mode("overwrite").save(out)
    spark.read.format("excel").schema(nation.schema).load(out)
      .orderBy(col("n_nationkey"))
  }

  val excelRoundtripSql: String =
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** OFFSET-pushdown pagination (r14, SURVEY §2.1 scan surface): supplier
    * written key-sorted into ONE workbook, then page 2 read back with
    * `.offset(5).limit(10)` — the single-file single-sheet shape where
    * the scan accepts complete OFFSET pushdown and skips the first 5
    * data rows before any cell conversion (`ExcelConnectorSpec` pins the
    * plan; this gate pins the VALUES against LIMIT/OFFSET in DuckDB).
    * Were the pushdown ever declined, Spark applies the same offset
    * above the scan — the gate is robust, the spec is the plan pin. */
  def excelOffsetPage(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val supplier = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
      .orderBy(col("s_suppkey"))
    val out = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_offset_${math.abs(dir.hashCode)}.xlsx").getAbsolutePath
    supplier.coalesce(1).write.format("excel").mode("overwrite").save(out)
    spark.read.format("excel").schema(supplier.schema).load(out)
      .offset(5).limit(10)
  }

  val excelOffsetPageSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier
      |ORDER BY s_suppkey
      |LIMIT 10 OFFSET 5""".stripMargin

  /** Partial TOP-N pushdown (r16, SURVEY §2.1 scan surface): supplier
    * written UNSORTED into a sharded 4-file workbook directory so no
    * single partition holds the answer, then the 12 best rows read back
    * via `ORDER BY s_acctbal DESC, s_suppkey LIMIT 12`. The scan caps
    * every partition at its own 12 best rows in a bounded heap
    * (`ExcelTopN`, `PushedTopN=` in the plan) while Spark keeps the
    * global TakeOrderedAndProject — partial pushdown, so the gate stays
    * exact even if the pushdown is ever declined. The tiebreak on the
    * unique s_suppkey makes the oracle deterministic. `ExcelTopNSpec`
    * pins the plan shape + null ordering; this gate pins the VALUES
    * against DuckDB's ORDER BY ... LIMIT. */
  def excelTopN(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val supplier = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    val out = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_topn_${math.abs(dir.hashCode)}").getAbsolutePath
    supplier.repartition(4).write.format("excel")
      .option("shardedOutput", "true")
      .mode("overwrite").save(out)
    spark.read.format("excel").schema(supplier.schema).load(out)
      .orderBy(col("s_acctbal").desc, col("s_suppkey"))
      .limit(12)
  }

  val excelTopNSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal
      |FROM supplier
      |ORDER BY s_acctbal DESC, s_suppkey
      |LIMIT 12""".stripMargin

  /** Strict-parity listing (r14): nation written as a `.xlsx` next to a
    * DECOY workbook named `.xlsm` carrying shifted keys; reading the
    * directory with `xlsxOnly=true` must list ONLY the `.xlsx` — the
    * reference's B6 case-insensitive `.xlsx` filter restored as an
    * option (default reads admit the `.xlsm` superset; the spec pins
    * both directions, this gate pins the strict values). */
  def excelXlsxOnlyListing(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val nation = spark.read.parquet(s"$dir/nation.parquet")
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_xlsxonly_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(base)
    base.mkdirs()
    nation.coalesce(1).write.format("excel").mode("overwrite")
      .save(new File(base, "real.xlsx").getAbsolutePath)
    nation.select((col("n_nationkey") + 1000).as("n_nationkey"),
        col("n_name"), col("n_regionkey"))
      .coalesce(1).write.format("excel").mode("overwrite")
      .save(new File(base, "decoy.xlsm").getAbsolutePath)
    spark.read.format("excel").schema(nation.schema)
      .option("xlsxOnly", "true")
      .load(base.getAbsolutePath)
      .orderBy(col("n_nationkey"))
  }

  val excelXlsxOnlyListingSql: String =
    """SELECT n_nationkey, n_name, n_regionkey
      |FROM nation
      |ORDER BY n_nationkey""".stripMargin

  /** Scale-out connector path: customer pushed through a SHARDED directory
    * write (4 parallel part files, rename-only commit) and read back with
    * row-range splits (maxRowsPerPartition) — write and read parallelism
    * both exercised, hash-checked against the source table. */
  def excelShardedRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val customer = spark.read.parquet(s"$dir/customer.parquet")
      .select(col("c_custkey"), col("c_name"), col("c_nationkey"),
        col("c_acctbal"))
    val out = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_sharded_${math.abs(dir.hashCode)}").getAbsolutePath
    customer.repartition(4).write.format("excel")
      .option("shardedOutput", "true")
      .mode("overwrite").save(out)
    spark.read.format("excel").schema(customer.schema)
      .option("maxRowsPerPartition", "200")
      .load(out)
      .orderBy(col("c_custkey"))
  }

  val excelShardedRoundtripSql: String =
    """SELECT c_custkey, c_name, c_nationkey, c_acctbal
      |FROM customer
      |ORDER BY c_custkey""".stripMargin

  /** Reference `enableArrow` option (SURVEY §2.1 row 2): part pushed
    * through a sharded write and read back with `enableArrow=true`, which
    * is accepted for reference compatibility and has no effect — the read
    * takes the one row path, with every pushdown, composed with row-range
    * splits, and is hash-checked against the source table. */
  def excelArrowRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    val part = spark.read.parquet(s"$dir/part.parquet")
      .select(col("p_partkey"), col("p_name"), col("p_size"),
        col("p_retailprice"))
    val out = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_arrow_${math.abs(dir.hashCode)}").getAbsolutePath
    part.repartition(2).write.format("excel")
      .option("shardedOutput", "true")
      .mode("overwrite").save(out)
    spark.read.format("excel").schema(part.schema)
      .option("enableArrow", "true")
      .option("maxRowsPerPartition", "500")
      .load(out)
      .orderBy(col("p_partkey"))
  }

  val excelArrowRoundtripSql: String =
    """SELECT p_partkey, p_name, p_size, p_retailprice
      |FROM part
      |ORDER BY p_partkey""".stripMargin

  /** Streaming connector path, end-to-end: supplier staged as a directory
    * of workbooks → `readStream.format("excel")` (micro-batch discovery,
    * replayable offsets — SURVEY §2.1 rows 5-8) → a stateless transform →
    * the STREAMING excel sink (epoch-named workbooks) under
    * Trigger.AvailableNow → batch read-back, hash-checked against the
    * source table. Covers offset management, stream batch planning, the
    * shared stream scan, commit, and the streaming sink in one oracle. */
  def excelStreamRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, upper}
    val supplier = spark.read.parquet(s"$dir/supplier.parquet")
      .select(col("s_suppkey"), col("s_name"), col("s_nationkey"),
        col("s_acctbal"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_stream_${math.abs(dir.hashCode)}")
    // clean slate: a prior run's checkpoint/epoch files would double-count
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // input staging cached per (session, corpus) — the ssjoin/cdc
    // pattern: the staged xlsx is a pure function of the corpus, so a
    // session pays the encode once; sink dir + checkpoint stay FRESH per
    // invocation (a reused AvailableNow checkpoint would admit zero new
    // files). Cache misses are attributed via GateMetrics inside
    // cachedStaging → {stage_s, engine_s} in bench_full.json.
    val Seq(inPath) = cachedStaging(spark, s"streamRtStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      supplier.repartition(3).write.format("excel")
        .option("shardedOutput", "true")
        .mode("overwrite").save(in.getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' dirs (ADVICE r20)
    val out = runDir(base, "out", run)
    val ckpt = runDir(base, "ckpt", run)
    val q = spark.readStream.format("excel").schema(supplier.schema)
      .load(in.getAbsolutePath)
      .withColumn("name_up", upper(col("s_name")))
      .writeStream.format("excel")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val outSchema = supplier.schema
      .add("name_up", org.apache.spark.sql.types.StringType)
    spark.read.format("excel").schema(outSchema).load(out.getAbsolutePath)
      .orderBy(col("s_suppkey"))
  }

  val excelStreamRoundtripSql: String =
    """SELECT s_suppkey, s_name, s_nationkey, s_acctbal,
      |       upper(s_name) AS name_up
      |FROM supplier
      |ORDER BY s_suppkey""".stripMargin

  /** Streaming windowed aggregation, oracle-checked (SURVEY §2.2 streaming
    * row): a deterministic sample of orders staged as excel shards →
    * `readStream` → event-time watermark → 30-day tumbling window
    * count/sum (exact DECIMAL sum, then cast — double sum order is
    * partition-dependent) → memory sink in complete mode under
    * AvailableNow. Complete mode makes the final table a pure function of
    * the input (the watermark operator runs but does not gate emission —
    * append/update semantics are pinned in ExcelStreamWindowSpec). Window
    * origin is the epoch, mirrored in SQL as 30-day integer buckets. */
  def excelStreamWindow(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(37)) === 0)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("ts"),
        col("o_totalprice"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_window_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // input staging cached per (session, corpus); checkpoint fresh per
    // invocation (the ssjoin/cdc pattern)
    val Seq(inPath) = cachedStaging(spark, s"windowStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      orders.repartition(2).write.format("excel")
        .option("shardedOutput", "true")
        .mode("overwrite").save(in.getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_window_${math.abs(dir.hashCode)}_$run"
    // window-agg state: 8 shuffle partitions instead of 32 cuts the
    // per-batch state-checkpoint fan-out 4x at identical results. The
    // stream runs on a PRIVATE session (own SQLConf over the shared
    // context) so the lowered conf can't leak into queries running
    // concurrently on the caller's session.
    val ss = streamSession(spark)
    val q = ss.readStream.format("excel").schema(orders.schema)
      .load(in.getAbsolutePath)
      .withWatermark("ts", "1 day")
      .groupBy(window(col("ts"), "30 days"))
      .agg(count(lit(1)).as("n_orders"),
        sum(col("o_totalprice").cast("decimal(18,2)")).cast("double").as("total"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(qname)
      .select(col("window.start").cast("date").as("window_start"),
        col("n_orders"), col("total"))
      .orderBy("window_start")
  }

  val excelStreamWindowSql: String =
    """SELECT DATE '1970-01-01'
      |         + ((date_diff('day', DATE '1970-01-01', o_orderdate) // 30)
      |            * 30)::INTEGER AS window_start,
      |       COUNT(*) AS n_orders,
      |       (SUM(CAST(o_totalprice AS DECIMAL(18,2))))::DOUBLE AS total
      |FROM orders WHERE o_orderkey % 37 = 0
      |GROUP BY 1 ORDER BY window_start""".stripMargin

  // ------------------------------------------------ excel_stream_join
  /** Stream-static join, oracle-checked: documents staged as two excel
    * batches (id parity) → `readStream` → broadcast join against a static
    * per-language totals aggregate → append-mode memory sink under
    * AvailableNow. The static side is planned once and broadcast to every
    * micro-batch — the standard dimension-enrichment shape for streaming
    * ingestion (at scale the stream side never shuffles). */
  def excelStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("lang"))
    val langTotals = docs.groupBy("lang").agg(count(lit(1)).as("lang_total"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_sjoin_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // input staging cached per (session, corpus); checkpoint fresh per
    // invocation (the ssjoin/cdc pattern)
    val Seq(inPath) = cachedStaging(spark, s"sjoinStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      docs.filter(pmod(col("doc_id"), lit(2)) === 0).coalesce(1)
        .write.format("excel").mode("overwrite")
        .save(new File(in, "a.xlsx").getAbsolutePath)
      docs.filter(pmod(col("doc_id"), lit(2)) === 1).coalesce(1)
        .write.format("excel").mode("overwrite")
        .save(new File(in, "b.xlsx").getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    // ONE micro-batch admits both staged files (VERDICT r20 #3): this is
    // a STATELESS stream-static join in append mode — each row's output
    // is independent of batching and the readout sorts by doc_id — so
    // one AvailableNow micro-batch pays the WAL commit once instead of
    // twice. The two-file input layout is unchanged.
    val admit = stagedXlsxTotal(in)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_join_${math.abs(dir.hashCode)}_$run"
    val q = spark.readStream.format("excel").schema(docs.schema)
      .option("maxFilesPerTrigger", admit.toString)
      .load(in.getAbsolutePath)
      .join(broadcast(langTotals), "lang")
      .select(col("doc_id"), col("lang"), col("lang_total"))
      .writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(qname).orderBy("doc_id")
  }

  val excelStreamJoinSql: String =
    """SELECT d.doc_id, d.lang, l.lang_total
      |FROM documents d JOIN (
      |  SELECT lang, COUNT(*) AS lang_total FROM documents GROUP BY lang) l
      |USING (lang) ORDER BY d.doc_id""".stripMargin

  /** SharedPrep-cached xlsx staging with a HIT-TIME completeness check.
    * The SharedPrep fingerprint covers the SOURCE corpus dir, never the
    * staged tmp output — so a hit can hand back java.io.tmpdir paths
    * whose files vanished (OS tmp reaper during a long session, or a
    * second session over the same corpus running its own cache-miss
    * `rm(base)`), and an AvailableNow stream over a gutted dir admits
    * fewer files and SILENTLY returns a partial table instead of
    * failing loudly. The build-time per-dir .xlsx count is recorded in
    * the cached value and every hit re-counts (one local walk, ≤ a few
    * dozen entries — cheap vs seconds of staging); ANY difference —
    * including a partially-reaped subdir that still holds some files
    * (ADVICE r20: the previous any-one-xlsx check passed that) —
    * invalidates the entry and re-stages. */
  private[queries] def cachedStaging(spark: SparkSession, key: String, dir: String)(
      build: => Seq[String]): Seq[String] = {
    def countXlsx(p: String): Int = {
      val root = java.nio.file.Paths.get(p)
      if (!java.nio.file.Files.exists(root)) 0
      else {
        val it = java.nio.file.Files.walk(root)
        try it.filter(q => q.toString.endsWith(".xlsx") &&
          java.nio.file.Files.isRegularFile(q)).count().toInt
        finally it.close()
      }
    }
    def stage(): (Seq[String], Seq[Int]) = {
      val dirs = graft.GateMetrics.staged(build)
      (dirs, dirs.map(countXlsx))
    }
    val (dirs, counts) = graft.SharedPrep.cached(spark, key, dir)(stage())
    val intact = dirs.zip(counts).forall { case (d, c) =>
      c > 0 && countXlsx(d) == c
    }
    if (intact) dirs
    else {
      System.err.println(
        s"[staging] cached dirs for $key lost staged xlsx files — re-staging")
      graft.SharedPrep.invalidate(spark, key)
      graft.SharedPrep.cached(spark, key, dir)(stage())._1
    }
  }

  // ----------------------------------------- excel_stream_stream_join
  /** STREAM-STREAM interval join, oracle-checked: a sampled orders stream
    * joins a lineitem stream on key + event-time range (shipdate within
    * 365 days of orderdate) — the two-unbounded-sides join Structured
    * Streaming buffers keyed state for, vs the broadcast-static shape of
    * `excel_stream_join`. Both sides carry watermarks (state-eviction
    * contract at scale); the delay is set beyond the data's time span so
    * nothing is evicted or late under AvailableNow, making the final
    * append-mode table equal the batch join — which is exactly what the
    * oracle runs. */
  def excelStreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$dir/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(5)) === 0)
      .select(col("o_orderkey"),
        col("o_orderdate").cast("timestamp").as("o_ts"))
    val line = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(pmod(col("l_orderkey"), lit(5)) === 0)
      .select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        col("l_shipdate").cast("timestamp").as("l_ts"), col("l_quantity"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_ssjoin_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // xlsx inputs staged ONCE per (session, corpus) via SharedPrep — the
    // r17 regression hunt (VERDICT item 4) measured the two sharded
    // staging writes at ~2.5 s of the gate's 5.5 s wall: deterministic
    // input-prep a production session pays once, exactly the near-dup
    // pair-list precedent. Stream state (checkpoint dir, memory-sink
    // query name) stays FRESH per invocation — an AvailableNow restart
    // over a reused checkpoint would read zero new files and return an
    // empty table.
    val Seq(inLPath, inRPath) = cachedStaging(
        spark, s"ssjoinStage:$dir", dir) {
      val t0 = System.nanoTime()
      rm(base)
      val l = new File(base, "in_l"); val r = new File(base, "in_r")
      // shard count ∝ rows: each shard is ONE sheet, and Excel's hard
      // cap is 1,048,576 rows/sheet — the r18 30× stress hit the
      // writer's loud cap guard with a fixed 2-way split (3.6M sampled
      // lineitem rows → 1.8M/shard). 800k keeps headroom; parquet
      // count(*) is a metadata read. 1× behavior unchanged (still 2).
      def shards(df: DataFrame): Int =
        math.max(2, math.ceil(df.count() / 800000.0).toInt)
      orders.repartition(shards(orders)).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(l.getAbsolutePath)
      line.repartition(shards(line)).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(r.getAbsolutePath)
      System.err.println(
        f"[ssjoin] staged xlsx inputs in ${(System.nanoTime() - t0) / 1e9}%.2f s")
      Seq(l.getAbsolutePath, r.getAbsolutePath)
    }
    val inL = new File(inLPath); val inR = new File(inRPath)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_stream_join_${math.abs(dir.hashCode)}_$run"
    // join state checkpoints one store PER shuffle partition PER side —
    // at this volume 32 partitions is pure small-file overhead (it
    // dominated the gate's wall time); 8 keeps the state path exercised
    // at a quarter of the checkpoint fan-out. The whole stream — sources
    // included — runs on a PRIVATE session so the lowered conf is scoped
    // to this query instead of mutating the shared session.
    val ss = streamSession(spark)
    val left = ss.readStream.format("excel").schema(orders.schema)
      .load(inL.getAbsolutePath)
      .withWatermark("o_ts", "3650 days")
    val right = ss.readStream.format("excel").schema(line.schema)
      .load(inR.getAbsolutePath)
      .withWatermark("l_ts", "3650 days")
    val q = left.join(right, expr(
        """o_orderkey = l_orderkey
          |AND l_ts >= o_ts
          |AND l_ts <= o_ts + interval 365 days""".stripMargin))
      .select(col("o_orderkey"), col("l_linenumber"),
        col("o_ts").cast("date").as("o_date"),
        col("l_ts").cast("date").as("l_date"),
        col("l_quantity"))
      .writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // attribution instrumentation (stderr, not on the result surface):
    // micro-batch count + engine-reported batch durations separate
    // micro-batch machinery from join-state cost when adjudicating this
    // gate's wall time
    locally {
      val ps = q.recentProgress
      val tot = ps.map(_.batchDuration).sum
      System.err.println(
        s"[ssjoin] ${ps.length} micro-batches, ${tot} ms engine batch time")
      ps.foreach { p =>
        val d = p.durationMs
        val st = p.stateOperators.map(s =>
          s"commit=${s.commitTimeMs}ms rows=${s.numRowsTotal}").mkString(";")
        System.err.println(
          s"[ssjoin]   batch ${p.batchId}: total=${p.batchDuration}ms " +
            s"addBatch=${d.get("addBatch")}ms getBatch=${d.get("getBatch")}ms " +
            s"planning=${d.get("queryPlanning")}ms " +
            s"walCommit=${d.get("walCommit")}ms " +
            s"stateCommit=${d.get("commitOffsets")}ms state[$st]")
      }
    }
    ss.table(qname).orderBy("o_orderkey", "l_linenumber")
  }

  val excelStreamStreamJoinSql: String =
    """SELECT o.o_orderkey,
      |       l.l_linenumber::BIGINT AS l_linenumber,
      |       o.o_orderdate::DATE AS o_date,
      |       l.l_shipdate::DATE AS l_date,
      |       l.l_quantity
      |FROM orders o JOIN lineitem l
      |  ON o.o_orderkey = l.l_orderkey
      | AND l.l_shipdate >= o.o_orderdate
      | AND l.l_shipdate <= o.o_orderdate + INTERVAL 365 DAY
      |WHERE o.o_orderkey % 5 = 0
      |ORDER BY o_orderkey, l_linenumber""".stripMargin

  // ---------------------------------------------- excel_stream_session
  /** Streaming SESSION-WINDOW aggregation, oracle-checked: per-user event
    * sessions with a 30-minute inactivity gap — the streaming twin of the
    * batch sessionization gate (q32), computed by Spark's native
    * `session_window` state machine instead of the lag/flag/running-sum
    * window. A deterministic user sample of `events` is staged as excel
    * shards (event times as BIGINT micros — no datetime codec roundtrip
    * in the staging path), then `readStream` → event-time watermark →
    * `groupBy(user, session_window)` → memory sink in complete mode under
    * AvailableNow. Session end is last-event + gap by session_window's
    * contract, so the oracle mirrors it as `max(ts)+gap` over q32's exact
    * session assignment. */
  def excelStreamSession(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = graft.queries.EventTime.load(spark, dir)
      .filter(pmod(col("user_id"), lit(10)) === 0)
      .select(col("user_id"), col("ts_us"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_session_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // input staging cached per (session, corpus); checkpoint fresh per
    // invocation (the ssjoin/cdc pattern)
    val Seq(inPath) = cachedStaging(spark, s"sessionStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      ev.repartition(2).write.format("excel")
        .option("shardedOutput", "true")
        .mode("overwrite").save(in.getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_session_${math.abs(dir.hashCode)}_$run"
    // session state: private session + 8 shuffle partitions, same
    // state-store fan-out discipline as excel_stream_window
    val ss = streamSession(spark)
    val q = ss.readStream.format("excel").schema(ev.schema)
      .load(in.getAbsolutePath)
      .withColumn("ts", expr("timestamp_micros(ts_us)"))
      .withWatermark("ts", "1 day")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(qname)
      .select(col("user_id"),
        expr("unix_micros(session_window.start)").as("session_start_us"),
        expr("unix_micros(session_window.end)").as("session_end_us"),
        col("n_events"))
      .orderBy("user_id", "session_start_us")
  }

  val excelStreamSessionSql: String =
    """WITH flagged AS (
      |  SELECT user_id, epoch_us(ts) AS ts_us,
      |    CASE WHEN epoch_us(ts) - LAG(epoch_us(ts), 1) OVER w > 1800000000
      |           OR LAG(epoch_us(ts), 1) OVER w IS NULL
      |         THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WHERE user_id % 10 = 0
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts))),
      |sessions AS (
      |  SELECT user_id, ts_us,
      |    SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged)
      |SELECT user_id,
      |  MIN(ts_us)::BIGINT AS session_start_us,
      |  (MAX(ts_us) + 1800000000)::BIGINT AS session_end_us,
      |  COUNT(*) AS n_events
      |FROM sessions GROUP BY user_id, session_id
      |ORDER BY user_id, session_start_us""".stripMargin

  // -------------------------------------------------- excel_stream_cdc
  /** Streaming CDC upsert view, oracle-checked
    * ([[graft.streaming.StreamingCdc.latestState]]): a deterministic
    * changelog over orders — inserts at seq 1, every 3rd key's price
    * revised at seq 2, every 5th key tombstoned at seq 3 — split across
    * TWO excel micro-batches (inserts first, then updates+deletes;
    * name-sorted listing + maxFilesPerTrigger=1 pins the order). The
    * keyed state must carry batch-1 inserts forward so batch-2 events
    * merge against STATE, never a rescan; the update-mode output log is
    * then compacted with the batch twin
    * ([[graft.operators.Cdc.latestSnapshot]]). Prices ride as integer
    * cents (the 1.1× revision is `(cents*11) div 10` — exact), so the
    * hashed surface is pure BIGINT and the oracle replays the whole
    * changelog with arg_max. */
  def excelStreamCdc(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    // even keys only: every CDC path (insert/update/tombstone/late merge)
    // still fires, at half the xlsx-codec volume the gate pays twice
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(2)) === 0)
      .select(col("o_orderkey"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
    val ins = o.select(col("o_orderkey"), lit("I").as("op"),
      lit(1L).as("seq"), col("cents").as("price_cents"))
    val upd = o.filter(pmod(col("o_orderkey"), lit(3)) === 0)
      .select(col("o_orderkey"), lit("U").as("op"), lit(2L).as("seq"),
        expr("(cents * 11) div 10").as("price_cents"))
    val del = o.filter(pmod(col("o_orderkey"), lit(5)) === 0)
      .select(col("o_orderkey"), lit("D").as("op"), lit(3L).as("seq"),
        lit(0L).as("price_cents"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_cdc_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // xlsx CDC log staged ONCE per (session, corpus) — two single-sheet
    // encodes of the orders slice were the bulk of this gate's 10× wall
    // (the ssjoin staging pattern); stream checkpoint + sink stay fresh
    // per invocation
    // per-batch SHARDED staging (the d08 layout): decode parallelizes,
    // batch order stays exact (name-prefix admission over a/ then b/,
    // maxFilesPerTrigger = shard count); within-batch shard order is
    // immaterial — the keyed state merges on the explicit `seq`, not on
    // arrival
    val Seq(inPath) = cachedStaging(spark, s"cdcStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      val k = streamBatchShards(ins)
      ins.repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "a").getAbsolutePath)
      upd.unionByName(del).repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "b").getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    // two micro-batches KEPT: batch-2 events merging against carried
    // batch-1 state is this gate's purpose. ADVICE r20's max(a, b) is
    // REJECTED: admission is a name-ordered PREFIX, so a count above a's
    // would let micro-batch 1 straddle a + the head of b; a's count at
    // worst splits an oversized b (batch order preserved, seq-merge
    // still exact). a and b stage the same k, and cachedStaging now
    // validates staged file counts on every hit.
    val shards = stagedShardCount(new File(in, "a"))
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_cdc_${math.abs(dir.hashCode)}_$run"
    val ss = streamSession(spark)
    val q = ss.readStream.format("excel").schema(ins.schema)
      .option("maxFilesPerTrigger", shards.toString)
      .option("recursiveFileLookup", "true")
      .load(in.getAbsolutePath)
      .transform(df => graft.streaming.StreamingCdc.latestState(
        df, "o_orderkey", "seq", "op", "price_cents"))
      .writeStream.outputMode("update")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    graft.operators.Cdc.latestSnapshot(ss.table(qname),
      "o_orderkey", "last_seq", "op", Seq("price_cents"))
      .orderBy(col("o_orderkey"))
  }

  val excelStreamCdcSql: String =
    """WITH log AS (
      |  SELECT o_orderkey, 'I' AS op, 1::BIGINT AS seq,
      |         ROUND(o_totalprice * 100)::BIGINT AS price_cents
      |  FROM orders WHERE o_orderkey % 2 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'U', 2,
      |         (ROUND(o_totalprice * 100)::BIGINT * 11) // 10
      |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 3 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'D', 3, 0
      |  FROM orders WHERE o_orderkey % 2 = 0 AND o_orderkey % 5 = 0),
      |latest AS (
      |  SELECT o_orderkey,
      |    ARG_MAX(op, seq) AS op,
      |    ARG_MAX(price_cents, seq) AS price_cents,
      |    MAX(seq) AS last_seq
      |  FROM log GROUP BY 1)
      |SELECT o_orderkey, price_cents, last_seq
      |FROM latest WHERE op <> 'D'
      |ORDER BY o_orderkey""".stripMargin

  // -------------------------------------------------- excel_stream_hll
  /** STREAMING HLL distinct over two excel micro-batches — the third
    * mergeable-sketch streaming gate beside heavyhitters and quantile:
    * the register table (bucket → max ρ) is a plain streaming MAX
    * aggregation, because max-merge is exactly what makes HLL mergeable
    * — Spark's state store IS the sketch, no custom state code at all.
    * The final register state after any sequence of micro-batches equals
    * the batch registers over the union (max is commutative, associative,
    * idempotent), so the gate carries q51's full estimator oracle over a
    * batch replay. Documents (doc_id % 2 = 0) split into two xlsx
    * batches by doc_id % 4; output is the per-source estimate beside the
    * exact distinct count. */
  def excelStreamHll(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(2)) === 0)
      .select(col("doc_id"), col("source"), col("text"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_hll_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // input staging cached per (session, corpus); checkpoint fresh per
    // invocation (the ssjoin/cdc pattern)
    // per-batch SHARDED staging (the d08 layout): decode parallelizes,
    // batch order stays exact (name-prefix admission over a/ then b/,
    // maxFilesPerTrigger = shard count); within-batch shard order is
    // immaterial — this gate's state merge is commutative by design
    // (that is the mergeability property the gate pins)
    val Seq(inPath) = cachedStaging(spark, s"hllStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      val k = streamBatchShards(d.filter(pmod(col("doc_id"), lit(4)) === 0))
      d.filter(pmod(col("doc_id"), lit(4)) === 0)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "a").getAbsolutePath)
      d.filter(pmod(col("doc_id"), lit(4)) === 2)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "b").getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    // ONE micro-batch admits BOTH staged batches (VERDICT r20 #3): the
    // register max-merge is commutative/associative/idempotent — the
    // mergeability property this gate pins — so the final state is
    // identical whether the batches arrive in one commit or two, and one
    // AvailableNow micro-batch pays the WAL + state-store commit ONCE.
    // The two-batch input layout is unchanged.
    val admit = stagedXlsxTotal(in)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_hll_${math.abs(dir.hashCode)}_$run"
    val ss = streamSession(spark)
    val q = graft.operators.Sketches.hllRegisters(
      ss.readStream.format("excel").schema(d.schema)
        .option("maxFilesPerTrigger", admit.toString)
        .option("recursiveFileLookup", "true")
        .load(in.getAbsolutePath),
      "source", "text")
      .writeStream.outputMode("complete")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val est = graft.operators.Sketches.hllFromRegisters(
      ss.table(qname), "source")
    val exact = d.groupBy("source")
      .agg(countDistinct(col("text")).as("exact_distinct"))
    est.join(exact, "source")
      .select(col("source").as("scope"), col("n_present"),
        expr("s_scaled div 1000000000000000000").as("s_hi"),
        expr("CAST(s_scaled % 1000000000000000000 AS BIGINT)").as("s_lo"),
        col("est_micro"), col("small_range"), col("exact_distinct"))
      .orderBy("scope")
  }

  /** q51's estimator mirror over a batch replay of the same rows —
    * exact because streaming max-merge registers equal batch registers
    * regardless of arrival order. */
  val excelStreamHllSql: String =
    """WITH vals AS (
      |  SELECT source AS scope, text AS v FROM documents
      |  WHERE doc_id % 2 = 0),
      |f AS (
      |  SELECT scope,
      |    CASE WHEN v = '' THEN 14695981039346656037::HUGEINT
      |         ELSE list_reduce(
      |    list_prepend(14695981039346656037::HUGEINT,
      |      [unicode(c)::HUGEINT for c in string_split(v, '')]),
      |    (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                % 18446744073709551616::HUGEINT) END AS z
      |  FROM vals),
      |m1 AS (SELECT scope, xor(z, z // 8589934592::HUGEINT) AS z FROM f),
      |m2 AS (SELECT scope,
      |  ((z % 4294967296::HUGEINT) * 3981806797::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 4283543511::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 3981806797::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM m1),
      |m3 AS (SELECT scope, xor(z, z // 8589934592::HUGEINT) AS z FROM m2),
      |m4 AS (SELECT scope,
      |  ((z % 4294967296::HUGEINT) * 444984403::HUGEINT
      |   + (((z % 4294967296::HUGEINT) * 3301882366::HUGEINT
      |       + (z // 4294967296::HUGEINT) * 444984403::HUGEINT)
      |      % 4294967296::HUGEINT) * 4294967296::HUGEINT)
      |  % 18446744073709551616::HUGEINT AS z FROM m3),
      |m5 AS (SELECT scope, xor(z, z // 8589934592::HUGEINT) AS h FROM m4),
      |reg AS (
      |  SELECT scope, h // 18014398509481984::HUGEINT AS bucket,
      |    MAX(55 - CASE WHEN h % 18014398509481984::HUGEINT = 0 THEN 0
      |        ELSE LENGTH(BIN(CAST(h % 18014398509481984::HUGEINT
      |                             AS BIGINT))) END) AS mrho
      |  FROM m5 GROUP BY 1, 2),
      |agg AS (
      |  SELECT scope, COUNT(*) AS n_present,
      |    SUM((1::BIGINT << (63 - mrho))::HUGEINT)
      |      + (1024 - COUNT(*))::HUGEINT * 9223372036854775808::HUGEINT AS s
      |  FROM reg GROUP BY 1),
      |est AS (
      |  SELECT scope, n_present,
      |    (s // 1000000000000000000::HUGEINT)::BIGINT AS s_hi,
      |    (s % 1000000000000000000::HUGEINT)::BIGINT AS s_lo,
      |    CAST(7143409202692358338277906422169600000::HUGEINT
      |         // (1025079::HUGEINT * s) AS BIGINT) AS est_micro
      |  FROM agg),
      |ex AS (SELECT scope, COUNT(DISTINCT v) AS exact_distinct
      |       FROM vals GROUP BY 1)
      |SELECT scope, n_present, s_hi, s_lo, est_micro,
      |  CASE WHEN est_micro <= 2560000000 AND n_present < 1024
      |       THEN 1 ELSE 0 END AS small_range,
      |  exact_distinct
      |FROM est JOIN ex USING (scope)
      |ORDER BY scope""".stripMargin

  // -------------------------------------- excel_stream_freshness
  /** STREAMING ingestion-freshness monitor — p32's stateful twin: per
    * event type, a streaming (count, max ts) aggregation in complete
    * mode, so Spark's state store IS the monitor (one fixed-width row
    * per type, no custom state code). Two excel micro-batches land
    * out of time order; because count and max are commutative/
    * associative/idempotent-under-merge, the streaming state equals the
    * batch aggregate over the union EXACTLY, so the gate carries a full
    * batch-replay oracle (the excel_stream_hll discipline). The readout
    * computes each type's lag behind the freshest type in whole minutes
    * plus the 60-minute-SLA flag, all in integral epoch-µs shipped as
    * BIGINT through the xlsx codec (no timestamp round-trip ambiguity).
    * At scale this is the always-on ops stream beside the p32 batch
    * audit: state size is |types|, per-trigger cost is one partial agg
    * of the new rows. */
  def excelStreamFreshness(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val e = EventTime.load(spark, dir)
      .filter(pmod(col("event_id"), lit(2)) === 0)
      .select(col("event_id"), col("event_type"), col("ts_us"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_fresh_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // input staging cached per (session, corpus); checkpoint fresh per
    // invocation (the ssjoin/cdc pattern)
    // per-batch SHARDED staging (the d08 layout): decode parallelizes,
    // batch order stays exact (name-prefix admission over a/ then b/,
    // maxFilesPerTrigger = shard count); within-batch shard order is
    // immaterial — this gate's state merge is commutative by design
    // (that is the mergeability property the gate pins)
    val Seq(inPath) = cachedStaging(spark, s"freshStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      val k = streamBatchShards(e.filter(pmod(col("event_id"), lit(4)) === 0))
      e.filter(pmod(col("event_id"), lit(4)) === 0)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "a").getAbsolutePath)
      e.filter(pmod(col("event_id"), lit(4)) === 2)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "b").getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    // ONE micro-batch admits BOTH staged batches (VERDICT r20 #3): the
    // (count, max) state merge is commutative/associative — the property
    // this gate pins — so the final state is identical in one commit or
    // two, and one AvailableNow micro-batch pays the WAL + state-store
    // commit ONCE. The two-batch input layout is unchanged.
    val admit = stagedXlsxTotal(in)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_fresh_${math.abs(dir.hashCode)}_$run"
    val ss = streamSession(spark)
    val q = ss.readStream.format("excel").schema(e.schema)
      .option("maxFilesPerTrigger", admit.toString)
      .option("recursiveFileLookup", "true")
      .load(in.getAbsolutePath)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), max(col("ts_us")).as("max_ts_us"))
      .writeStream.outputMode("complete")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val per = ss.table(qname)
    val corpusMax = per.agg(max(col("max_ts_us")).as("corpus_max_us"))
    per.crossJoin(broadcast(corpusMax))
      .select(col("event_type"), col("n_events"), col("max_ts_us"),
        expr("(corpus_max_us - max_ts_us) div 60000000")
          .as("lag_minutes"),
        (expr("(corpus_max_us - max_ts_us) div 60000000") > 60)
          .cast("int").as("is_stale"))
      .orderBy("event_type")
  }

  /** Batch replay of the SAME rows: streaming (count, max) state equals
    * the batch aggregate over the union exactly, so the full p32-shape
    * readout is mirrored, not just row counts. */
  val excelStreamFreshnessSql: String =
    """WITH per AS (
      |  SELECT event_type, COUNT(*)::BIGINT AS n_events,
      |    MAX(epoch_us(ts))::BIGINT AS max_ts_us
      |  FROM events WHERE event_id % 2 = 0 GROUP BY 1),
      |g AS (SELECT MAX(max_ts_us) AS corpus_max_us FROM per)
      |SELECT event_type, n_events, max_ts_us,
      |  ((corpus_max_us - max_ts_us) // 60000000)::BIGINT AS lag_minutes,
      |  ((corpus_max_us - max_ts_us) // 60000000 > 60)::INT AS is_stale
      |FROM per CROSS JOIN g ORDER BY event_type""".stripMargin

  // --------------------------------------------- excel_stream_quantile
  /** STREAMING quantile sketch over two excel micro-batches
    * ([[graft.streaming.StreamingSketch.quantileSketch]]) — the
    * incremental twin of the q53 batch sketch, and the payoff of its
    * derandomized compaction: because survival levels are a pure
    * function of the key, the keyed state after the last micro-batch
    * equals the BATCH sketch over the union of both batches
    * bit-for-bit, so a streaming gate carries a full batch-replay
    * DuckDB oracle — impossible for any coin-flipping KLL. Orders
    * (quarter volume, o_orderkey % 4 = 0) split into two batches by
    * key parity; per-status state is a 22-entry level histogram + the
    * ≤ 512 kept rows; output is the final snapshot per status
    * (threshold, kept size, p50-estimate in cents). */
  def excelStreamQuantile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(4)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
          .as("cents"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_kll_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // input staging cached per (session, corpus); checkpoint fresh per
    // invocation (the ssjoin/cdc pattern)
    // per-batch SHARDED staging (the d08 layout): decode parallelizes,
    // batch order stays exact (name-prefix admission over a/ then b/,
    // maxFilesPerTrigger = shard count); within-batch shard order is
    // immaterial — this gate's state merge is commutative by design
    // (that is the mergeability property the gate pins)
    val Seq(inPath) = cachedStaging(spark, s"kllStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      val k = streamBatchShards(o.filter(pmod(col("o_orderkey"), lit(8)) === 0))
      o.filter(pmod(col("o_orderkey"), lit(8)) === 0)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "a").getAbsolutePath)
      o.filter(pmod(col("o_orderkey"), lit(8)) === 4)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "b").getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    // ONE micro-batch admits BOTH staged batches (VERDICT r20 #3): the
    // derandomized sketch state is a pure function of the row SET (the
    // mergeability property this gate pins), so the final snapshot is
    // identical in one commit or two, and one AvailableNow micro-batch
    // pays the WAL + state-store commit ONCE. The readout below already
    // keeps only the max-n_total (final) snapshot per slice, so fewer
    // intermediate snapshots cannot change the result. The two-batch
    // input layout is unchanged.
    val admit = stagedXlsxTotal(in)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_quantile_${math.abs(dir.hashCode)}_$run"
    val ss = streamSession(spark)
    val q = graft.streaming.StreamingSketch.quantileSketch(
      ss.readStream.format("excel").schema(o.schema)
        .option("maxFilesPerTrigger", admit.toString)
        .option("recursiveFileLookup", "true")
        .load(in.getAbsolutePath),
      "o_orderstatus", "o_orderkey", "cents", capacity = 512)
      .writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // n_total is monotone per slice, so the max-n_total snapshot is final
    ss.table(qname).groupBy("slice")
      .agg(max(struct(col("n_total"), col("t_slice"), col("n_kept"),
        col("est_p50"))).as("m"))
      .select(col("slice"), col("m.n_total").as("n_total"),
        col("m.t_slice").as("t_slice"), col("m.n_kept").as("n_kept"),
        col("m.est_p50").as("est_p50"))
      .orderBy("slice")
  }

  /** Batch sketch replay (the q53 mirror shape, per slice, no merge
    * step) over the SAME rows — exact because the sketch is a pure
    * function of the data, independent of batch arrival. */
  val excelStreamQuantileSql: String =
    """WITH base AS (
      |  SELECT o_orderstatus AS slice, o_orderkey AS key,
      |    (CAST(o_totalprice AS DECIMAL(18,2)) * 100)::BIGINT AS value
      |  FROM orders WHERE o_orderkey % 4 = 0),
      |hv AS (
      |  SELECT slice, key, value,
      |    list_reduce(list_prepend(14695981039346656037::HUGEINT,
      |      [unicode(c)::HUGEINT for c in string_split(CAST(key AS VARCHAR), '')]),
      |      (h, b) -> (xor(h, b) * 1099511628211::HUGEINT)
      |                  % 18446744073709551616::HUGEINT) AS h
      |  FROM base),
      |lv AS (
      |  SELECT slice, key, value,
      |    CAST(CASE WHEN h % 2097152 = 0 THEN 20
      |         ELSE bit_count(xor(h % 2097152, h % 2097152 - 1)) - 1
      |         END AS INT) AS lvl
      |  FROM hv),
      |lc AS (SELECT slice, lvl, COUNT(*) AS cnt FROM lv GROUP BY 1, 2),
      |cand AS (
      |  SELECT s.slice, t.t
      |  FROM (SELECT DISTINCT slice FROM lc) s
      |  CROSS JOIN (SELECT UNNEST(RANGE(0, 22)) AS t) t),
      |tails AS (
      |  SELECT c.slice, c.t,
      |    COALESCE(SUM(CASE WHEN l.lvl >= c.t THEN l.cnt ELSE 0 END), 0) AS tail
      |  FROM cand c LEFT JOIN lc l ON l.slice = c.slice
      |  GROUP BY 1, 2),
      |tsl AS (SELECT slice, MIN(t) AS t_slice FROM tails
      |        WHERE tail <= 512 GROUP BY 1),
      |keep AS (
      |  SELECT lv.slice, lv.key, lv.value
      |  FROM lv JOIN tsl ON tsl.slice = lv.slice
      |  WHERE lv.lvl >= tsl.t_slice),
      |n AS (SELECT slice, COUNT(*) AS n_total FROM base GROUP BY 1),
      |nk AS (SELECT slice, COUNT(*) AS n_kept FROM keep GROUP BY 1),
      |fin AS (
      |  SELECT slice, key, value,
      |    ROW_NUMBER() OVER (PARTITION BY slice ORDER BY value, key) AS rn
      |  FROM keep),
      |tgt AS (
      |  SELECT n.slice, n.n_total, tsl.t_slice,
      |    (n.n_total * 500 + 999) // 1000 AS target
      |  FROM n JOIN tsl USING (slice)),
      |est AS (
      |  SELECT g.slice,
      |    COALESCE(MIN(CASE WHEN f.rn * (CAST(1 AS BIGINT) << g.t_slice::INT)
      |                        >= g.target THEN f.value END),
      |             MAX(f.value)) AS est_p50
      |  FROM tgt g JOIN fin f USING (slice)
      |  GROUP BY 1)
      |SELECT t.slice, t.n_total::BIGINT AS n_total, t.t_slice::INT AS t_slice,
      |  nk.n_kept::BIGINT AS n_kept, e.est_p50::BIGINT AS est_p50
      |FROM tgt t JOIN nk USING (slice) JOIN est e USING (slice)
      |ORDER BY slice""".stripMargin

  // ----------------------------------------- excel_stream_heavyhitters
  /** Streaming count–min heavy hitters
    * ([[graft.streaming.StreamingHeavyHitters.countMin]]): orders rows
    * arrive as two xlsx micro-batches; keyed state per order status holds
    * the depth×width count–min registers plus the tracked key set, and
    * every batch emits per-key estimate snapshots. Because CM registers
    * are SUMS, the streaming state is bit-identical to the batch sketch
    * over the same rows — and on this key set (5 priorities hashed into
    * 4×1024 registers, collision-free in at least one row per key, a
    * data-independent property of the key strings + seed) the estimate
    * equals the exact count, so the oracle is the exact GROUP BY (the
    * q30 contract carried into streaming). */
  def excelStreamHeavyHitters(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val o = spark.read.parquet(s"$dir/orders.parquet")
      .filter(pmod(col("o_orderkey"), lit(4)) === 0)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_hh_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // input staging cached per (session, corpus); checkpoint fresh per
    // invocation (the ssjoin/cdc pattern)
    // per-batch SHARDED staging (the d08 layout): decode parallelizes,
    // batch order stays exact (name-prefix admission over a/ then b/,
    // maxFilesPerTrigger = shard count); within-batch shard order is
    // immaterial — this gate's state merge is commutative by design
    // (that is the mergeability property the gate pins)
    val Seq(inPath) = cachedStaging(spark, s"hhStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      val k = streamBatchShards(o.filter(pmod(col("o_orderkey"), lit(8)) === 0))
      o.filter(pmod(col("o_orderkey"), lit(8)) === 0)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "a").getAbsolutePath)
      o.filter(pmod(col("o_orderkey"), lit(8)) === 4)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "b").getAbsolutePath)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    // ONE micro-batch admits BOTH staged batches (VERDICT r20 #3):
    // count–min registers are SUMS (the mergeability property this gate
    // pins), so the final state is identical in one commit or two, and
    // one AvailableNow micro-batch pays the WAL + state-store commit
    // ONCE. The readout keeps each key's max-n_total (final) snapshot —
    // every batch emits snapshots for ALL tracked keys, so fewer
    // intermediate snapshots cannot change it. Two-batch input layout
    // unchanged.
    val admit = stagedXlsxTotal(in)
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_hh_${math.abs(dir.hashCode)}_$run"
    val ss = streamSession(spark)
    val q = graft.streaming.StreamingHeavyHitters.countMin(
      ss.readStream.format("excel").schema(o.schema)
        .option("maxFilesPerTrigger", admit.toString)
        .option("recursiveFileLookup", "true")
        .load(in.getAbsolutePath),
      "o_orderstatus", "o_orderpriority")
      .writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // n_total is monotone per slice: keep each key's final snapshot
    ss.table(qname).groupBy("slice", "key")
      .agg(max(struct(col("n_total"), col("est_count"))).as("m"))
      .select(col("slice"), col("key"),
        col("m.n_total").as("n_total"), col("m.est_count").as("est_count"))
      .orderBy("slice", "key")
  }

  val excelStreamHeavyHittersSql: String =
    """SELECT o_orderstatus AS slice, o_orderpriority AS key,
      |  (SUM(COUNT(*)) OVER (PARTITION BY o_orderstatus))::BIGINT AS n_total,
      |  COUNT(*)::BIGINT AS est_count
      |FROM orders WHERE o_orderkey % 4 = 0
      |GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY slice, key""".stripMargin

  // --------------------------------------------- excel_stream_latedata
  /** Streaming late-data metering ([[graft.streaming.StreamingLateness]])
    * over the p23 jittered event stream, fed through the excel streaming
    * source in two sequence-ordered micro-batches: per-user running-max
    * lateness computed INCREMENTALLY (8 bytes of state per user), rolled
    * up per event type. The split point is the global event_id median —
    * monotone per user by construction — so the streaming state replay
    * is row-identical to the batch running-max window the oracle runs. */
  def excelStreamLateData(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val ev = EventTime.load(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        (col("ts_us") + (pmod(col("event_id") * 7, lit(11)) - 5)
          * lit(7200000000L)).as("ts_eff"))
    val base = new File(
      System.getProperty("java.io.tmpdir"),
      s"graft_excel_late_${math.abs(dir.hashCode)}")
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    // two-batch xlsx staging ONCE per (session, corpus) — the ssjoin/cdc
    // pattern; the midpoint scalar is only needed to stage.
    // Per-batch SHARDED staging (r21, the d08 layout): the operator
    // sorts each user's rows by event_id WITHIN a micro-batch
    // (StreamingLateness's determinism contract), so only the
    // cross-micro-batch split must be sequence-monotone — within-batch
    // shard order is immaterial, and a coalesce(1) sheet per batch was
    // a single-task encode AND single-task decode for the full events
    // slice. Name-prefix admission over a/ then b/ with
    // maxFilesPerTrigger = shard count keeps micro-batch 1 = batch a
    // exactly, preserving the state-carry-forward the gate pins.
    val Seq(inPath) = cachedStaging(spark, s"lateStage:$dir", dir) {
      rm(base)
      val in = new File(base, "in")
      // 1-row scalar: the sequence midpoint that defines the two batches
      val thr = ev.agg(max(col("event_id"))).head().getLong(0) / 2
      val k = streamBatchShards(ev.filter(col("event_id") <= thr))
      ev.filter(col("event_id") <= thr)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "a").getAbsolutePath)
      ev.filter(col("event_id") > thr)
        .repartition(k).write.format("excel")
        .option("shardedOutput", "true").mode("overwrite")
        .save(new File(in, "b").getAbsolutePath)
      // batch a must process before batch b. The admission order is
      // already deterministic BY NAME (ExcelFiles listings sort by path,
      // so every ".../a/part-*" sorts before ".../b/part-*");
      // additionally force strictly increasing mtimes so the gate stays
      // correct even under a future mtime-ordered admission policy or an
      // mtime tie on a coarse-granularity filesystem
      def touch(f: File, t: Long): Unit = {
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(touch(_, t)))
        f.setLastModified(t)
      }
      val t0 = (System.currentTimeMillis() / 1000L) * 1000L
      touch(new File(in, "a"), t0 - 4000L)
      touch(new File(in, "b"), t0 - 2000L)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    // batch a's staged shard count (a pure prefix — see the cdc note on
    // why max(a, b) would be wrong for an order-pinned gate)
    val shards = stagedShardCount(new File(in, "a"))
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base) // reclaim prior runs' ckpt dirs (ADVICE r20)
    val ckpt = runDir(base, "ckpt", run)
    val qname = s"excel_stream_late_${math.abs(dir.hashCode)}_$run"
    val ss = streamSession(spark)
    val q = graft.streaming.StreamingLateness.lateness(
      ss.readStream.format("excel").schema(ev.schema)
        .option("maxFilesPerTrigger", shards.toString)
        .option("recursiveFileLookup", "true")
        .load(in.getAbsolutePath))
      .writeStream.outputMode("append")
      .format("memory").queryName(qname)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    ss.table(qname)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late_us") > 0, 1L).otherwise(0L)).as("n_late"),
        sum(col("late_us")).as("sum_late_us"),
        max(col("late_us")).as("max_late_us"))
      .orderBy(col("event_type"))
  }

  /** Batch replay: the p23 running-max window over (user, event_id) —
    * exact because the micro-batch split is sequence-monotone. */
  val excelStreamLateDataSql: String =
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
      |  SUM(late_us)::BIGINT AS sum_late_us,
      |  MAX(late_us)::BIGINT AS max_late_us
      |FROM ev GROUP BY event_type ORDER BY event_type""".stripMargin

  val all: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "excel_stream_latedata" ->
      (excelStreamLateData _, excelStreamLateDataSql),
    "excel_stream_heavyhitters" ->
      (excelStreamHeavyHitters _, excelStreamHeavyHittersSql),
    "excel_stream_quantile" -> (excelStreamQuantile _, excelStreamQuantileSql),
    "excel_stream_hll" -> (excelStreamHll _, excelStreamHllSql),
    "excel_stream_freshness" ->
      (excelStreamFreshness _, excelStreamFreshnessSql),
    "excel_stream_cdc" -> (excelStreamCdc _, excelStreamCdcSql),
    "excel_stream_join" -> (excelStreamJoin _, excelStreamJoinSql),
    "excel_stream_stream_join" -> (excelStreamStreamJoin _, excelStreamStreamJoinSql),
    "excel_roundtrip" -> (excelRoundtrip _, excelRoundtripSql),
    "excel_offset_page" -> (excelOffsetPage _, excelOffsetPageSql),
    "excel_topn" -> (excelTopN _, excelTopNSql),
    "excel_xlsxonly_listing" ->
      (excelXlsxOnlyListing _, excelXlsxOnlyListingSql),
    "excel_sharded_roundtrip" -> (excelShardedRoundtrip _, excelShardedRoundtripSql),
    "excel_arrow_roundtrip" -> (excelArrowRoundtrip _, excelArrowRoundtripSql),
    "excel_stream_roundtrip" -> (excelStreamRoundtrip _, excelStreamRoundtripSql),
    "excel_stream_window" -> (excelStreamWindow _, excelStreamWindowSql),
    "excel_stream_session" -> (excelStreamSession _, excelStreamSessionSql),
  )
}
