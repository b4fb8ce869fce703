package graft

import org.apache.spark.sql.SparkSession

/** Per-round benchmark: runs every SparkEntry query against
  * `SPARK_GRAFT_SF_DIR` and prints ONE JSON line for the driver.
  *
  * Queries are forced through the `noop` sink so the full plan — including
  * projected columns a `count()` would let Catalyst prune — is computed and
  * row-serialized, which is the honest cost a downstream consumer pays. */
object Bench {

  /** Opt-in (`SPARK_GRAFT_TASK_STATS=1`) per-gate task-metric roll-up for
    * the scale stress runs: spill, shuffle volume, GC fraction, and peak
    * execution memory are the numbers that decide whether a gate is
    * approaching memory headroom BEFORE it falls over — the 30× spot-run
    * evidence (VERDICT r17 item 8). Listener-bus delivery is async, so a
    * report can lag its gate by the bus flush interval; totals are per
    * GATE (all repeats), reset after each report. */
  private final class TaskStats
      extends org.apache.spark.scheduler.SparkListener {
    import java.util.concurrent.atomic.{AtomicLong, LongAdder}
    private val spillMem = new LongAdder; private val spillDisk = new LongAdder
    private val shufWrite = new LongAdder; private val shufRead = new LongAdder
    private val gcMs = new LongAdder; private val runMs = new LongAdder
    private val peakExec = new AtomicLong
    // Scheduling-floor attribution (r21): the 1× suite is job-launch
    // bound at 32 threads (VERDICT r20 #3/#5) — job/stage/task counts
    // per gate are the denominator that says whether a gate's wall is
    // compute or scheduling.
    private val nJobs = new LongAdder; private val nStages = new LongAdder
    private val nTasks = new LongAdder
    override def onJobEnd(
        e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
      nJobs.increment()
    override def onStageCompleted(
        e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      nStages.increment()
    override def onTaskEnd(
        te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
      nTasks.increment()
      val m = te.taskMetrics
      if (m != null) {
        spillMem.add(m.memoryBytesSpilled); spillDisk.add(m.diskBytesSpilled)
        shufWrite.add(m.shuffleWriteMetrics.bytesWritten)
        shufRead.add(m.shuffleReadMetrics.totalBytesRead)
        gcMs.add(m.jvmGCTime); runMs.add(m.executorRunTime)
        peakExec.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
      }
    }
    def reportAndReset(gate: String): Unit = {
      val rt = Runtime.getRuntime
      val heapUsed = (rt.totalMemory - rt.freeMemory) / 1048576
      val gc = gcMs.sumThenReset(); val run = runMs.sumThenReset()
      System.err.println(
        f"[stats] $gate spillMem=${spillMem.sumThenReset() / 1048576}%dMB " +
          f"spillDisk=${spillDisk.sumThenReset() / 1048576}%dMB " +
          f"shufWrite=${shufWrite.sumThenReset() / 1024}%dKB " +
          f"shufRead=${shufRead.sumThenReset() / 1024}%dKB " +
          f"gcMs=$gc%d of $run%d task-ms " +
          f"peakExecMem=${peakExec.getAndSet(0) / 1048576}%dMB " +
          f"heapUsed=$heapUsed%dMB of ${rt.maxMemory / 1048576}%dMB " +
          f"jobs=${nJobs.sumThenReset()}%d stages=${nStages.sumThenReset()}%d " +
          f"tasks=${nTasks.sumThenReset()}%d")
    }
  }

  /** The wall-budget projection (package-visible so `BenchProtocolSpec`
    * pins the arithmetic): degrade to single-repeat iff finishing the
    * remaining gates at the current repeat count and the observed
    * per-repeat average would blow the budget. Requires ≥`minRepeats`
    * executed repeats of signal so one slow first gate can't flip the
    * protocol by itself. */
  private[graft] def shouldDegrade(wallS: Double, gateWallSum: Double,
      repeatsExecuted: Int, remainingGates: Int, effRepeats: Int,
      budgetS: Double, minRepeats: Int = 8): Boolean =
    effRepeats > 1 && repeatsExecuted >= minRepeats && {
      val avgRepeatS = gateWallSum / repeatsExecuted
      wallS + remainingGates * avgRepeatS * effRepeats > budgetS
    }

  def main(args: Array[String]): Unit = {
    // Wall clock starts at main entry: the r19 driver artifact was rc:124
    // — killed at EXACTLY the one-hour mark mid-suite with zero parseable
    // output — because best-of-2 walks every gate twice with no notion of
    // a budget. Everything below projects against this zero.
    val benchT0 = System.nanoTime()
    def wallS: Double = (System.nanoTime() - benchT0) / 1e9
    // Staging baseline at entry (not 0: VerifyAndBench runs Verify in the
    // same JVM first) — end-of-run diff = ALL staging paid this bench,
    // including cache-miss first-repeat stagings that best-of-N drops.
    val stagingSnapT0 = GateMetrics.snapshot()
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partitions scale WITH DATA on a cluster; a single-host
    // bench pins them to the thread count at 1× but must NOT keep 32 at
    // 10× data (per-partition hash state grows 10× and the iterative
    // graph/dedup gates go superlinear — the r17 scale-table residual,
    // VERDICT r17 item 1). Scale runs set this ∝ factor (96 at 3×,
    // 320 at 10×); the driver's 1× runs leave it unset → cpus, so the
    // headline protocol is unchanged.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The r19 driver tail was THOUSANDS of identical "WindowExec: No
    // Partition Defined" WARN lines — every one from a global window this
    // repo has already audited bounded (GlobalWindowAuditSpec pins the
    // inventory), repeated per execution, burying whatever the run was
    // doing when the driver killed it. Silence that one known-benign
    // logger to ERROR (setLogLevel above sets ALL loggers, so this must
    // come after it); the per-gate heartbeat below replaces it with a
    // tail that actually says where the run is.
    try org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    catch { case _: Throwable => () } // log config must not kill bench
    val taskStats = Option.when(
        sys.env.get("SPARK_GRAFT_TASK_STATS").contains("1")) {
      val l = new TaskStats
      spark.sparkContext.addSparkListener(l)
      l
    }

    // Host load at bench start (1-minute loadavg): identical code has
    // measured 86-121 s across runs on this host depending on what else
    // is running, so the artifact carries the evidence needed to
    // adjudicate noise instead of leaving it to manual uptime checks.
    def loadAvg(): Double = try {
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    } catch { case _: Throwable => -1.0 }
    // Noise rejection (two rounds of driver artifacts recorded at loadavg
    // ~8 — the regime BASELINE.md warns produces 1.2-2x phantom spikes):
    // if the host is busy at start, wait once for the 1-min average to
    // decay; if it is STILL busy, run anyway but stamp "noisy":true so
    // nobody compares the artifact against clean-host history.
    val loadLimit = sys.env.getOrElse("SPARK_GRAFT_LOAD_LIMIT", "2.0").toDouble
    var load = loadAvg()
    if (load > loadLimit) {
      System.err.println(
        f"[bench] loadavg $load%.2f > $loadLimit%.1f; sleeping 90s for decay")
      Thread.sleep(90000)
      load = loadAvg()
    }
    val noisy = load > loadLimit
    // Machine-speed canary: loadavg misses slow-host regimes (thermal
    // throttling, hypervisor CPU steal) that have inflated identical-code
    // totals 136→187 s at loadavg < 1 on this host. A fixed single-thread
    // integer workload timestamps the machine itself, so cross-round
    // comparisons can normalize: if probe_ms inflates 40%, so do totals.
    def cpuProbeOnce(): Long = {
      val t0 = System.nanoTime()
      var h = 0x9e3779b97f4a7c15L
      var i = 0
      while (i < 50000000) {
        h ^= i; h *= 0xff51afd7ed558ccdL; h ^= h >>> 33
        i += 1
      }
      if (h == 42L) println("") // defeat dead-code elimination
      (System.nanoTime() - t0) / 1000000
    }
    // median of 5, not min of 2: the probe DIVIDES the tracked
    // value_normalized, so one turbo-boosted minimum (a 73 ms reading
    // on a 93-97 ms day was observed) would inflate the headline by
    // 25%+; the median is stable against both turbo spikes and
    // scheduler stalls
    def cpuProbe(): (Long, Double) = {
      cpuProbeOnce() // JIT warm
      val xs = Array.fill(5)(cpuProbeOnce()).sorted
      (xs(2), if (xs(2) > 0) (xs(4) - xs(0)).toDouble / xs(2) else 1.0)
    }
    val (probeMs, probeSpread) = cpuProbe()
    // IO canary: the CPU probe runs cache-resident and is BLIND to an
    // IO-degraded window — BENCH_r18.json is the proof: recorded in the
    // writeback-pressure shadow of a 19-minute oracle phase, its
    // IO/state-heavy gates read 20-60× their idle times (p25 112.8 s vs
    // 4.5 s idle) while probe_ms (98 ms, spread 0.02) and start loadavg
    // (0.74) certified the artifact `normalized_valid:true`. Median-of-5
    // each of {4 MB write+fsync, 64 MB sequential read}: fsync latency
    // balloons under dirty-page/writeback pressure (the state-store
    // commit / xlsx-staging path), the re-read degrades when the page
    // cache is being thrashed. Idle host reads ~30-60 ms / ~12-25 ms;
    // genuinely degraded windows read SECONDS — validity gates at 3× a
    // generous fast-host reference, far above fsync's natural jitter.
    def ioCanary(): (Long, Long) = {
      // temp-file creation lives INSIDE the try: a full or read-only tmpfs
      // is precisely the degraded-IO regime the canary probes, and a
      // createTempFile throw outside it would abort the whole bench
      // instead of reading (-1,-1) (ADVICE r19)
      var wFile: java.nio.file.Path = null
      var rFile: java.nio.file.Path = null
      try {
        val tmpDir = java.nio.file.Paths.get(
          System.getProperty("java.io.tmpdir"))
        wFile = java.nio.file.Files.createTempFile(tmpDir, "graft_ioc_w", ".bin")
        rFile = java.nio.file.Files.createTempFile(tmpDir, "graft_ioc_r", ".bin")
        val wBuf = new Array[Byte](4 * 1024 * 1024)
        java.util.Arrays.fill(wBuf, 0x5a.toByte)
        def wOnce(): Long = {
          val t0 = System.nanoTime()
          val ch = java.nio.channels.FileChannel.open(wFile,
            java.nio.file.StandardOpenOption.WRITE,
            java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)
          try { ch.write(java.nio.ByteBuffer.wrap(wBuf)); ch.force(true) }
          finally ch.close()
          (System.nanoTime() - t0) / 1000000
        }
        val rBuf = new Array[Byte](1024 * 1024)
        locally { // 64 MB read target, written once (not timed)
          val ch = java.nio.channels.FileChannel.open(rFile,
            java.nio.file.StandardOpenOption.WRITE)
          try { var i = 0; while (i < 64) {
            ch.write(java.nio.ByteBuffer.wrap(rBuf)); i += 1 } }
          finally ch.close()
        }
        def rOnce(): Long = {
          val t0 = System.nanoTime()
          val ch = java.nio.channels.FileChannel.open(rFile,
            java.nio.file.StandardOpenOption.READ)
          try {
            val bb = java.nio.ByteBuffer.wrap(rBuf)
            var n = 0L
            while (n >= 0) { bb.clear(); n = ch.read(bb) }
          } finally ch.close()
          (System.nanoTime() - t0) / 1000000
        }
        def med5(f: () => Long): Long = { val xs = Array.fill(5)(f()).sorted; xs(2) }
        (med5(wOnce _), med5(rOnce _))
      } catch { case _: Throwable => (-1L, -1L) // canary must not kill bench
      } finally {
        if (wFile != null)
          try java.nio.file.Files.deleteIfExists(wFile) catch { case _: Throwable => () }
        if (rFile != null)
          try java.nio.file.Files.deleteIfExists(rFile) catch { case _: Throwable => () }
      }
    }
    val ioRefWMs = 60.0; val ioRefRMs = 25.0
    def ioOk(w: Long, r: Long): Boolean =
      w >= 0 && r >= 0 && w <= ioRefWMs * 3 && r <= ioRefRMs * 3
    // Bounded fsync-settle preamble (VERDICT r19 #3c): the r18/r19 driver
    // runs sat in the WRITEBACK SHADOW of the oracle phase that precedes
    // them — gigabytes of dirty parquet pages draining while the bench's
    // own fsyncs (state stores, xlsx staging) queued behind them. The
    // canary DETECTED that; this preamble SHRINKS it: if the first io
    // sample is degraded, force the writeback now (`sync`, itself bounded
    // — it can block indefinitely under the very pressure it drains) and
    // re-sample until the canary reads clean or the wait budget is spent.
    // Paying ≤120 s up front is strictly better than paying the shadow
    // spread across 260 timed gates. The wait is stamped (`io_settle_s`)
    // so a reader sees the shadow was real and how long it took to drain.
    val settleMaxS =
      sys.env.getOrElse("SPARK_GRAFT_IO_SETTLE_MAX_S", "120").toDouble
    def ioSettle(): Double = {
      val t0 = System.nanoTime()
      var (w, r) = ioCanary()
      if (ioOk(w, r)) return 0.0 // clean host: zero cost, no sync issued
      System.err.println(
        s"[bench] io degraded at start (w=${w}ms r=${r}ms); " +
          s"sync+settle up to ${settleMaxS.toInt}s")
      while (!ioOk(w, r) && (System.nanoTime() - t0) / 1e9 < settleMaxS) {
        try {
          val p = new ProcessBuilder("sync").start()
          p.waitFor(30, java.util.concurrent.TimeUnit.SECONDS)
          p.destroyForcibly()
        } catch { case _: Throwable => () } // settle must not kill bench
        Thread.sleep(5000)
        val s = ioCanary(); w = s._1; r = s._2
      }
      System.err.println(f"[bench] io settle done after ${
        (System.nanoTime() - t0) / 1e9}%.1fs (w=${w}ms r=${r}ms)")
      (System.nanoTime() - t0) / 1e9
    }
    val ioSettleS = ioSettle()
    val (ioWMs, ioRMs) = ioCanary()
    // A normalized headline is only meaningful when the machine-speed
    // probe itself was stable AND the host was idle: BENCH_r17.json
    // stamped a 247 s "normalized" figure off a 73 ms turbo reading on a
    // loaded host — exactly the artifact class BASELINE.md warns about —
    // and a reader quoting the field had no machine-readable signal not
    // to. `normalized_valid:false` is that signal; cross-round tables
    // must ignore value_normalized whenever it is false.
    // r19: validity is now finalized AFTER the run — both probes are
    // re-sampled at end-of-run, and an IO-degraded window on EITHER side
    // (start OR end) invalidates. Gates: io write+fsync ≤ 3× the 60 ms
    // fast-host reference, io read ≤ 3× the 25 ms reference, and the CPU
    // probe must not DRIFT >1.5× between start and end (a uniform-slow
    // host normalizes correctly; a mid-run speed change makes the
    // start-probe divisor wrong). ioRefWMs/ioRefRMs/ioOk are defined
    // above the settle preamble, which shares them.

    // JIT/codegen/IO-path warmup so the alphabetically-first query isn't
    // taxed with one-time initialization: exercise the parquet reader,
    // shuffle exchange, window, join, and global-sort (range sampling)
    // machinery once before any measurement
    spark.range(1000000).selectExpr("sum(id)").write
      .mode("overwrite").format("noop").save()
    locally {
      import org.apache.spark.sql.functions._
      val warm = spark.read.parquet(s"$sfDir/region.parquet")
      warm.join(warm.select(col("r_regionkey").as("k")),
          col("r_regionkey") === col("k"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy(col("r_regionkey")).orderBy(col("k"))))
        .groupBy(col("rk")).count()
        .orderBy(col("rk"))
        .write.mode("overwrite").format("noop").save()
      // list-aggregation / generator / higher-order-function machinery
      // (collect_list buffers, Generate, lambda evaluation) — the shapes
      // the dedup pipeline queries hit on first use
      warm.groupBy(col("r_regionkey"))
        .agg(collect_list(struct(col("r_name"))).as("xs"))
        .select(posexplode(col("xs")).as(Seq("i", "x")), col("xs"))
        .select(explode(slice(col("xs"), col("i") + lit(1), size(col("xs")))).as("y"))
        .select(transform(array(lit(1), lit(2)), e => e + 1).as("t"))
        .write.mode("overwrite").format("noop").save()
    }

    // Optional comma-separated query filter for local iteration; the
    // driver never sets it, so per-round runs measure everything.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Best-of-N timing (default 2): a single pass is at the mercy of
    // whatever else the machine is doing at that moment — transient
    // contention shows up as multi-x phantom spikes on untouched queries.
    // Back-to-back repeats with a per-query MIN measure the code, not the
    // machine; the min of 2 is a far lower-variance estimator of the
    // achievable time than any single sample.
    val repeats = math.max(1,
      sys.env.getOrElse("SPARK_GRAFT_REPEATS", "2").toInt)
    // Inter-QUERY hygiene, OUTSIDE the timed sections: several gates
    // localCheckpoint intermediates (the correct 100-TB lineage
    // discipline), and those blocks are only reclaimed when the
    // ContextCleaner notices the RDD is garbage — which in a 250-query
    // single-JVM session means block-manager pressure accumulates until
    // a full-GC/cleaner avalanche lands on whatever query happens to be
    // running (r16: q26 read 11.07 s in-session vs 1.41 s isolated, with
    // byte-identical code; with the drain it reads ~1.0 s in-session).
    // Dropping leaked persisted RDDs and cached plans after each QUERY
    // — no cross-query state is ever reused by design — makes each
    // timing attributable to ITS query instead of to the session's
    // history. Deliberately NOT between the repeats of one query
    // (repeat-2 warmth is the established best-of-2 semantics every
    // prior round's numbers carry) and deliberately NO explicit GC: a
    // forced GC enqueues an ASYNC ContextCleaner storm (shuffle-file
    // unlinks, broadcast removals) that lands inside the next timed
    // windows — measured +1.5-2.7x on the queries following each GC.
    // Real deployments run one job per session; the leak is a
    // bench-harness artifact.
    // ONE deliberate exception to "no cross-query state": prep subtrees
    // registered in SharedPrep (the trade graph ten g-gates rebuild).
    // Dropping those checkpoints would be WORSE than a leak — their
    // lineage is truncated, so the next gate would fail, and re-paying
    // an identical prep per gate is exactly what a production session
    // would not do. Everything unregistered still drains.
    // SPARK_GRAFT_DRAIN=0 disables the drain for protocol A/B runs —
    // pre-r16 rounds were recorded WITHOUT it, so attributing a
    // cross-round ratio to code (not to the hygiene change) needs one
    // paired run per protocol on the same binary (BASELINE.md records it)
    val drainEnabled = sys.env.getOrElse("SPARK_GRAFT_DRAIN", "1") != "0"
    def drainLeaks(): Unit = if (drainEnabled) {
      // blocking: async removals would bleed into the NEXT query's
      // timed window — the exact attribution noise this drain exists
      // to eliminate
      spark.sparkContext.getPersistentRDDs
        .filterNot { case (id, _) => SharedPrep.isKept(spark, id) }
        .values.foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
    }
    // A failed gate must be LOUD in the artifact, never a silent ~0 s
    // entry: an instant exception used to IMPROVE the headline total (two
    // PageRank gates died to a cache bug in two full runs and the totals
    // read ~4 s better). A gate with NO successful repeat is named in
    // "failed" and EXCLUDED from the per-query map and the totals; a
    // gate that fails one repeat but succeeds another keeps the min of
    // its SUCCESSFUL repeats (the instant-exception time never competes
    // in the min).
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    // Per-gate staging attribution (VERDICT r18 #2): gates that pay
    // deterministic input prep inside their wall (the 11 excel_stream_*
    // xlsx stagings) wrap it in GateMetrics.staged; the snapshot diff
    // around the reported (min-wall) repeat splits its time into
    // {stage_s, engine_s} so an IO-degraded artifact self-attributes
    // instead of needing a hand re-run to tell staging from engine.
    val stageByGate = scala.collection.mutable.LinkedHashMap[String, Double]()
    val gates = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    // Wall budget (VERDICT r19 #1): the r19 driver artifact is rc:124,
    // parsed:null — the best-of-2 walk of all 260 gates blew the driver's
    // one-hour kill on a 1.35× heavier regenerated corpus inside an IO
    // writeback shadow, converting a healthy engine into a
    // zero-information round. The soft budget degrades the protocol
    // (repeat count → 1 for the REMAINING gates, switch point stamped) as
    // soon as the projection says best-of-N won't fit; the hard cap stops
    // launching gates outright so the JVM always reaches artifact-writing
    // code before the driver's kill. A stamped single-repeat or truncated
    // number beats no number; the local best-of-2 artifact stays the
    // tracked one (BASELINE.md protocol).
    val wallBudgetS =
      sys.env.getOrElse("SPARK_GRAFT_WALL_BUDGET_S", "2700").toDouble
    val wallHardS =
      sys.env.getOrElse("SPARK_GRAFT_WALL_HARD_S", "3300").toDouble
    var effRepeats = repeats
    var degradeAt: Option[String] = None
    val skipped = scala.collection.mutable.LinkedHashSet[String]()
    var repeatsExecuted = 0 // individual repeat runs, incl. failed ones
    var gateWallSum = 0.0 // wall spent inside gates (drains included)
    val results = scala.collection.mutable.ArrayBuffer[(String, Double)]()
    // Incremental per-gate flush (VERDICT r19 #2): a killed run used to
    // yield parsed:null; with this journal it yields every completed
    // gate's number plus a tail that says exactly where it died.
    val partial: java.io.PrintWriter =
      try new java.io.PrintWriter(
        new java.io.FileWriter("bench_partial.jsonl", false))
      catch { case _: Throwable => null } // journal must not kill bench
    def journal(line: String): Unit = if (partial != null) {
      partial.println(line); partial.flush()
    }
    journal(f"""{"event":"start","n_gates":${gates.size},"repeats":$repeats,"wall_budget_s":$wallBudgetS%.0f,"wall_hard_s":$wallHardS%.0f,"io_settle_s":$ioSettleS%.1f,"wall_at_first_gate_s":$wallS%.1f,"sf":"$sfDir"}""")

    gates.zipWithIndex.foreach { case ((name, fn), gi) =>
      if (wallS > wallHardS) {
        if (skipped.isEmpty) {
          System.err.println(f"[bench] wall $wallS%.0fs > hard cap " +
            f"$wallHardS%.0fs; skipping remaining gates from $name")
          journal(f"""{"event":"hard_cap","at":"$name","wall_s":$wallS%.1f}""")
        }
        skipped += name
      } else {
        // projection: degrade BEFORE the budget is blown, not after
        // (arithmetic in [[shouldDegrade]], pinned by BenchProtocolSpec)
        if (shouldDegrade(wallS, gateWallSum, repeatsExecuted,
            gates.size - gi, effRepeats, wallBudgetS)) {
          val projected = wallS +
            (gates.size - gi) * (gateWallSum / repeatsExecuted) * effRepeats
          effRepeats = 1
          degradeAt = Some(name)
          System.err.println(f"[bench] wall $wallS%.0fs, projected " +
            f"$projected%.0fs > budget $wallBudgetS%.0fs; degrading to " +
            s"single-repeat at $name")
          journal(f"""{"event":"degrade","at":"$name","wall_s":$wallS%.1f,"projected_s":$projected%.0f}""")
        }
        val gateT0 = wallS
        val succeeded = (0 until effRepeats).flatMap { _ =>
          val s0 = GateMetrics.snapshot()
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).write.mode("overwrite").format("noop").save(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
            }
          if (ok) Some(((System.nanoTime() - t0) / 1e9,
            (GateMetrics.snapshot() - s0) / 1e9))
          else None
        }
        taskStats.foreach(_.reportAndReset(name))
        drainLeaks()
        val gateWall = wallS - gateT0
        repeatsExecuted += effRepeats
        gateWallSum += gateWall
        if (succeeded.isEmpty) {
          failed += name
          journal(f"""{"gate":"$name","failed":true,"gate_wall_s":$gateWall%.3f,"cum_s":$wallS%.1f,"repeats":$effRepeats,"completed_through":"$name"}""")
        } else {
          val (wall, stage) = succeeded.minBy(_._1)
          if (stage > 0.01) stageByGate(name) = stage
          results += (name -> wall)
          // every line carries completed_through so ANY flushed prefix of
          // a killed run names its last finished gate on its final line
          journal(f"""{"gate":"$name","min_s":$wall%.3f,"gate_wall_s":$gateWall%.3f,"cum_s":$wallS%.1f,"repeats":$effRepeats,"completed_through":"$name"}""")
        }
        // one-line heartbeat: the r19 driver tail was all WindowExec spam
        // and said nothing about progress; this makes a killed run's tail
        // name its last completed gate and the cumulative wall
        System.err.println(f"[gate] ${gi + 1}/${gates.size} $name " +
          f"${succeeded.headOption.map(_ => succeeded.minBy(_._1)._1)
            .getOrElse(-1.0)}%.3fs gate=$gateWall%.2fs cum=$wallS%.1fs " +
          s"repeats=$effRepeats")
      }
    }
    journal(f"""{"event":"end","completed_through":"${results.lastOption.map(_._1).getOrElse("")}","n_done":${results.size},"n_failed":${failed.size},"n_skipped":${skipped.size},"wall_s":$wallS%.1f}""")
    if (partial != null) partial.close()

    // End-of-run re-sampling: the r18 driver artifact degraded at the
    // START (the oracle phase's writeback shadow, decaying through the
    // run) — the start canary catches that; a run that degrades LATE
    // (another process ramping up) is caught here. End loadavg is
    // stamped for the record but NOT gated on: the bench's own 32
    // threads dominate the 1-minute average at end-of-run, so it carries
    // no signal about external load — the probes do.
    val (probeMsEnd, _) = cpuProbe()
    val (ioWMsEnd, ioRMsEnd) = ioCanary()
    val loadEnd = loadAvg()
    val cpuStable = probeMs > 0 && probeMsEnd > 0 &&
      math.max(probeMs, probeMsEnd).toDouble /
        math.min(probeMs, probeMsEnd) <= 1.5
    val normValid = !noisy && probeSpread <= 0.20 && cpuStable &&
      ioOk(ioWMs, ioRMs) && ioOk(ioWMsEnd, ioRMsEnd)
    if (!normValid) System.err.println(
      s"[bench] normalized_valid=false: noisy=$noisy spread=$probeSpread " +
        s"cpuStable=$cpuStable probe=$probeMs/$probeMsEnd " +
        s"ioW=$ioWMs/$ioWMsEnd ioR=$ioRMs/$ioRMsEnd (ms, start/end)")

    val qs = results.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.map(_._2).sum
    // Machine-speed-normalized total: 89 ms is the canonical fast-host
    // probe reading every clean r12 artifact recorded, so
    // value · 89 / probe_ms restates this run's total as "what the fast
    // host would have measured" — cross-round tables compare
    // value_normalized directly instead of manually adjudicating
    // slow-host regimes (VERDICT r12 item 8).
    val refProbeMs = 89.0
    // Normalize by the FASTER of the start/end probes (r19): a host that
    // is slow only at one edge of the run (observed: start probe 128 ms
    // decaying to 99 ms in the shadow of a prior JVM's teardown) executed
    // most gates at the faster speed, so dividing by the slow reading
    // OVER-corrects and flatters the headline. min() under-corrects —
    // the conservative side for a number a reader quotes as the engine's
    // speed. Equal probes (the stable regime every prior round recorded)
    // are unchanged.
    val probeForNorm = math.min(probeMs,
      if (probeMsEnd > 0) probeMsEnd else probeMs)
    val totalNorm =
      if (probeForNorm > 0) total * refProbeMs / probeForNorm else total
    // One-time shared-prep build work (trade graph, near-dup pair list)
    // lands in the first consumer's repeat 1 and best-of-N drops it from
    // the headline — emit the measured amount so the excluded work is
    // quantified per run instead of estimated in prose (ADVICE r17).
    val prepBuildS = SharedPrep.buildSeconds(spark)
    // Prep-INCLUSIVE headline (VERDICT r20 #2): `value` is the best-of-N
    // sum, which drops one-time SharedPrep builds (first consumer's
    // repeat 1) and cache-miss staging (min'd away on the hit repeat).
    // That excluded bucket grew to ~19 s/run in r20 and the incentive —
    // "improve" the headline by reclassifying work as prep — is bad.
    // value_with_prep adds back prep_build_s plus the staging seconds NOT
    // already inside the reported per-gate minima, so the tracked
    // cross-round number counts every second of work the suite actually
    // performed. BASELINE.md tracks value_with_prep from r21 on. The two
    // buckets are disjoint: SharedPrep leaves staging that runs inside a
    // build out of prep_build_s.
    val stagingTotalS = (GateMetrics.snapshot() - stagingSnapT0) / 1e9
    val stagingReportedS = stageByGate.values.sum
    val stagingExcludedS = math.max(0.0, stagingTotalS - stagingReportedS)
    val valueWithPrep = total + prepBuildS + stagingExcludedS
    val valueWithPrepNorm =
      if (probeForNorm > 0) valueWithPrep * refProbeMs / probeForNorm
      else valueWithPrep
    val canaryJson =
      f""""probe_ms_end":$probeMsEnd,"io_w_ms":$ioWMs,"io_r_ms":$ioRMs,"io_w_ms_end":$ioWMsEnd,"io_r_ms_end":$ioRMsEnd,"load_end":$loadEnd%.2f,"io_settle_s":$ioSettleS%.1f"""
    // Protocol stamp: a degraded or truncated artifact must be
    // machine-distinguishable from a clean best-of-N one — cross-round
    // tables compare only like-protocol numbers (BASELINE.md).
    val protocol =
      if (degradeAt.isDefined) "degraded-single-repeat" else s"best-of-$repeats"
    val skippedJson = skipped.map("\"" + _ + "\"").mkString("[", ",", "]")
    val protocolJson =
      f""""protocol":"$protocol","degrade_at":${degradeAt.map("\"" + _ + "\"").getOrElse("null")},"skipped":$skippedJson,"truncated":${skipped.nonEmpty},"wall_s":$wallS%.1f"""
    // compact-line variant: a hard-cap truncation can skip 200+ gates and
    // an unbounded name array would overflow the driver's stdout tail —
    // the exact failure the compact line exists to avoid. Count + first
    // name only; the full list lives in bench_full.json.
    val protocolJsonCompact =
      f""""protocol":"$protocol","degrade_at":${degradeAt.map("\"" + _ + "\"").getOrElse("null")},"n_skipped":${skipped.size},"skipped_from":${skipped.headOption.map("\"" + _ + "\"").getOrElse("null")},"truncated":${skipped.nonEmpty},"wall_s":$wallS%.1f"""
    // stage_s = input staging inside the reported repeat's wall;
    // engine_s = the remainder. Only gates that staged anything appear.
    val stagingJson = stageByGate.map { case (k, s) =>
      val engine = math.max(0.0, results.toMap.getOrElse(k, 0.0) - s)
      "\"" + k + f"""":{"stage_s":$s%.3f,"engine_s":$engine%.3f}"""
    }.mkString("{", ",", "}")
    val fullLine =
      f"""{"metric":"total","value":$total%.3f,"value_normalized":$totalNorm%.3f,"value_with_prep":$valueWithPrep%.3f,"value_with_prep_normalized":$valueWithPrepNorm%.3f,"normalized_valid":$normValid,"unit":"sec","queries":$qs,"staging":$stagingJson,"failed":$failedJson,$protocolJson,"load":$load%.2f,"noisy":$noisy,"probe_ms":$probeMs,"probe_spread":$probeSpread%.3f,$canaryJson,"prep_build_s":$prepBuildS%.3f,"staging_excluded_s":$stagingExcludedS%.3f,"sf":"$sfDir"}"""
    println(fullLine)
    // The driver only captures the last ~2000 chars of stdout; with 76+
    // queries the full line above overflows that window and its leading
    // "value" is cut off, so no round has ever parsed. Persist the full
    // detail to a file and end stdout with a compact line (headline total +
    // slowest queries only) guaranteed to fit the tail window intact.
    try {
      val p = java.nio.file.Paths.get("bench_full.json")
      java.nio.file.Files.write(p, (fullLine + "\n").getBytes("UTF-8"))
    } catch { case _: Throwable => () } // bench must not fail on a log file
    // chars for the "queries" object in the compact line: sized so the
    // WHOLE line stays under the driver's ~2000-char stdout tail even
    // with the r20 protocol fields (protocol/degrade_at/skipped/
    // truncated/wall_s/io_settle_s ≈ 150 chars) and the r21
    // value_with_prep fields (≈ 95 chars) present
    val budget = 1100
    val slowestFirst = results.sortBy(-_._2)
    val sb = new StringBuilder
    var kept = 0
    slowestFirst.foreach { case (k, v) =>
      val piece = (if (kept == 0) "" else ",") + "\"" + k + "\":" + f"$v%.3f"
      if (sb.length + piece.length <= budget) { sb.append(piece); kept += 1 }
    }
    println(
      f"""{"metric":"total","value":$total%.3f,"value_normalized":$totalNorm%.3f,"value_with_prep":$valueWithPrep%.3f,"value_with_prep_normalized":$valueWithPrepNorm%.3f,"normalized_valid":$normValid,"unit":"sec","queries":{${sb.toString}},"n_queries":${results.size},"failed":$failedJson,$protocolJsonCompact,"shown":$kept,"full":"bench_full.json","load":$load%.2f,"noisy":$noisy,"probe_ms":$probeMs,"probe_spread":$probeSpread%.3f,$canaryJson,"prep_build_s":$prepBuildS%.3f,"staging_excluded_s":$stagingExcludedS%.3f,"sf":"$sfDir"}""")
    spark.stop()
  }
}
