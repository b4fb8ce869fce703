package graft.queries

import java.io.File

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

/** The one streaming-gate harness. A Structured Streaming query is a
  * source, a transform, a sink, a trigger and a checkpoint; a gate
  * supplies only its input batches, its transform, its output mode and
  * its readout, and [[StreamGate.run]] owns everything else:
  *
  *  - STAGING. The batches are written, in name order, as sharded
  *    `in/a`, `in/b`, … under the gate's tmp base `<name>_<corpus hash>`,
  *    once per (session, corpus) through [[cachedStaging]] (so a miss is
  *    attributed to `stage_s` via `GateMetrics.staged`). Every batch
  *    gets the same shard count, [[streamBatchShards]] of the largest
  *    batch. A miss deletes and rewrites `in` only — never the base, whose
  *    other entries may be a concurrent process's live run dirs.
  *  - ADMISSION, one of two policies:
  *    - [[AllAtOnce]] sets no `maxFilesPerTrigger`, so under AvailableNow
  *      the excel source's default `ReadLimit.allAvailable()` admits
  *      every staged file in ONE micro-batch: one WAL and state-store
  *      commit. For gates whose result does not depend on where the
  *      micro-batch boundaries fall (stateless, or a commutative,
  *      associative state merge).
  *    - [[PerBatch]] sets `maxFilesPerTrigger` to the shard count staged
  *      in `in/a`, so micro-batch i is exactly staged batch i — for gates
  *      whose state must carry batch a forward into batch b. This holds
  *      because admission is a name-ordered PREFIX of the listing and
  *      every `.../a/part-*` path sorts before `.../b/part-*`. A count
  *      above a's (say the max over batches) would let micro-batch 1
  *      straddle a and the head of b; a's count at worst splits an
  *      oversized b over extra micro-batches, which keeps the order.
  *  - RUN. Each call reclaims this process's prior run dirs, opens a
  *    private session ([[streamSession]]), reads every source with
  *    `recursiveFileLookup`, checkpoints into a fresh [[runDir]], writes
  *    to a uniquely named memory sink (or, with `excelSink`, to a fresh
  *    `out` run dir through the streaming excel sink) under
  *    `Trigger.AvailableNow`, and awaits termination. A reused
  *    AvailableNow checkpoint over cached inputs would admit zero files,
  *    which is why staging is cached and run state is not.
  */
object StreamGate {

  sealed trait Admission
  /** One micro-batch admits every staged file (see the object doc). */
  case object AllAtOnce extends Admission
  /** One micro-batch per staged batch (see the object doc). */
  case object PerBatch extends Admission

  /** A finished run: the private session, the sink's table (the memory
    * sink's view, or the excel sink's output read back) and the query. */
  final case class Run(session: SparkSession, table: DataFrame,
      query: StreamingQuery)

  /** The staged input as streaming sources on the run's private session. */
  final class Input private[StreamGate] (val session: SparkSession,
      in: File, maxFiles: Option[Int]) {
    /** A stream over every staged batch, or over one batch (`"a"`, `"b"`, …). */
    def read(schema: StructType, batch: String = ""): DataFrame = {
      val r = session.readStream.format("excel").schema(schema)
        .option("recursiveFileLookup", "true")
      maxFiles.fold(r)(n => r.option("maxFilesPerTrigger", n.toString))
        .load(new File(in, batch).getAbsolutePath)
    }
  }

  /** Stage `batches`, run `query` over them to completion, return the run.
    * `name` is the gate's tmp-base prefix; `afterStage` sees the freshly
    * written `in` dir inside the staging build. */
  def run(spark: SparkSession, dir: String, name: String,
      admission: Admission = AllAtOnce, outputMode: String = "append",
      excelSink: Boolean = false, afterStage: File => Unit = _ => ())(
      batches: => Seq[DataFrame])(query: Input => Dataset[_]): Run = {
    val base = new File(System.getProperty("java.io.tmpdir"),
      s"${name}_${math.abs(dir.hashCode)}")
    val Seq(inPath) = cachedStaging(spark, s"$name:$dir", dir) {
      val in = new File(base, "in")
      rmTree(in)
      val bs = batches
      val k = bs.map(streamBatchShards).max
      bs.zipWithIndex.foreach { case (b, i) =>
        b.repartition(k).write.format("excel")
          .option("shardedOutput", "true").mode("overwrite")
          .save(new File(in, ('a' + i).toChar.toString).getAbsolutePath)
      }
      afterStage(in)
      Seq(in.getAbsolutePath)
    }
    val in = new File(inPath)
    val maxFiles = admission match {
      case AllAtOnce => None
      case PerBatch => Some(stagedShardCount(new File(in, "a")))
    }
    val run = streamRunCounter.incrementAndGet()
    cleanStreamRunDirs(base)
    val ss = streamSession(spark)
    val df = query(new Input(ss, in, maxFiles))
    val out = runDir(base, "out", run).getAbsolutePath
    val qname = s"${name}_$run"
    val w = df.writeStream.outputMode(outputMode)
      .option("checkpointLocation", runDir(base, "ckpt", run).getAbsolutePath)
      .trigger(Trigger.AvailableNow())
    val q =
      if (excelSink) w.format("excel").option("path", out).start()
      else w.format("memory").queryName(qname).start()
    q.awaitTermination()
    val table =
      if (excelSink) ss.read.format("excel").schema(df.schema).load(out)
      else ss.table(qname)
    Run(ss, table, q)
  }

  /** Distinguishes per-invocation run state (checkpoint dir, sink name)
    * for gates whose input staging is session-cached. */
  private val streamRunCounter = new java.util.concurrent.atomic.AtomicInteger()

  /** Shard fan-out for a staged stream batch: enough files that the
    * per-batch xlsx DECODE parallelizes (a coalesce(1) sheet decodes on
    * ONE task — measured as d08/d16's bottleneck), scale-adaptive so no
    * shard approaches Excel's 1,048,576-row sheet cap (400k rows/shard
    * leaves 2.6× headroom AT ANY VOLUME — shards grow ∝ rows with no
    * cap; a min(64, …) cap would erode the headroom above ~25.6M
    * rows/batch and hit the writer's loud sheet-cap guard above ~67M),
    * floor 4 for local parallelism. Runs one count() job, inside the
    * staging build so a session pays it once. */
  private[queries] def streamBatchShards(df: DataFrame): Int =
    math.max(4, math.ceil(df.count() / 400000.0).toInt)

  /** The shard count actually staged in `dir` (local listing — cache
    * hits must never re-count the corpus). */
  private def stagedShardCount(dir: File): Int =
    math.max(1, Option(dir.listFiles())
      .map(_.count(_.getName.endsWith(".xlsx"))).getOrElse(1))

  private val StateStoreProvider = "spark.sql.streaming.stateStore.providerClass"

  /** Private session for a streaming gate: 8 shuffle partitions (state
    * fan-out A/B'd in r19 — one store per partition per operator, 32 was
    * pure small-file overhead). The state-store provider is Spark's
    * HDFS-backed default unless the CALLER's session sets
    * `spark.sql.streaming.stateStore.providerClass`: the caller's value
    * is copied over, because `newSession()` drops runtime confs. RocksDB
    * was A/B'd in r21: flat-to-slower at this state size, but the
    * production choice for multi-GB keyed state per partition — so it is
    * a conf, not a fork. A PRIVATE session scopes these confs to one
    * query instead of mutating the caller's session. */
  private[queries] def streamSession(spark: SparkSession): SparkSession = {
    val ss = spark.newSession()
    ss.conf.set("spark.sql.shuffle.partitions", "8")
    spark.conf.getOption(StateStoreProvider)
      .foreach(ss.conf.set(StateStoreProvider, _))
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
    * gate's tmp base, so a long-lived session invoking streaming gates
    * repeatedly does not accumulate checkpoint/sink dirs without bound.
    * Called before the new run's dirs are created; bench/verify sessions
    * run gates sequentially, so none of this process's live runs can
    * match, and another process's dirs (another [[runToken]]) — possibly
    * a live checkpoint — are never touched. */
  private[queries] def cleanStreamRunDirs(base: File): Unit =
    Option(base.listFiles()).foreach(_.foreach { f =>
      if (f.getName.matches(s"(out|ckpt)_${runToken}_\\d+")) rmTree(f)
    })

  /** Recursive delete of a local file or dir tree (missing is a no-op). */
  private[queries] def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete()
  }

  /** SharedPrep-cached xlsx staging with a HIT-TIME completeness check.
    * The SharedPrep fingerprint covers the SOURCE corpus dir, never the
    * staged tmp output — so a hit can hand back java.io.tmpdir paths
    * whose files vanished (OS tmp reaper during a long session, or a
    * second session over the same corpus re-staging the same `in`), and
    * an AvailableNow stream over a gutted dir admits fewer files and
    * SILENTLY returns a partial table instead of failing loudly. The
    * build-time per-dir .xlsx count is recorded in the cached value and
    * every hit re-counts (one local walk, ≤ a few dozen entries — cheap
    * vs seconds of staging); ANY difference — including a
    * partially-reaped subdir that still holds some files — invalidates
    * the entry and re-stages. */
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
}
