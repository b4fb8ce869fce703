package perfbench

import java.io.File
import java.nio.file.{Files => NioFiles, StandardCopyOption}
import java.util.SplittableRandom
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener,
  StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.sources.excel.{ExcelFiles, ExcelStreamOffset}

/** `xlsx_stream`: a directory that already holds ingested workbooks, then
  * (1) bursts of backlog drained under `maxFilesPerTrigger`, and (2) an
  * open-loop generator landing files by atomic rename at a fixed rate into
  * a stateless query with a `foreachBatch` sink. Per-file open cost and
  * per-trigger costs dominate: listing, offset serialization into the
  * write-ahead log, commits. The offset is the full sorted listing, so its
  * cost grows with the directory. */
object StreamWorkload {

  val RowsPerFile = 200
  val Ingested = 100
  val Backlog = 40
  val Drains = 8
  val MaxFilesPerTrigger = 20
  /** Files per second landed by the open-loop generator: at most half the
    * drain rate (30-50 files/s on 4 cores), so the backlog stays bounded. */
  val Rate = 12.5
  /** The open loop's first seconds warm it up and are not measured: the
    * JIT is still at work after the drains, and the first quarter of the
    * files waited up to twice as long as the rest. */
  val WarmSeconds = 3.0

  val schema: StructType = StructType(Seq(
    StructField("file_no", IntegerType), StructField("row_no", IntegerType),
    StructField("v", DoubleType), StructField("tag", StringType)))

  private def name(fileNo: Int) = f"f-$fileNo%06d.xlsx"

  private def writeFile(f: File, fileNo: Int, seed: Long): Unit = {
    val rnd = new SplittableRandom(seed * 7919L + fileNo)
    InlineBook.write(f, schema.fieldNames.toSeq, Iterator.tabulate(RowsPerFile) { i =>
      Array[Any](Integer.valueOf(fileNo), Integer.valueOf(i + 1),
        java.lang.Double.valueOf(rnd.nextInt(1000000) / 100.0), s"t${rnd.nextInt(50)}")
    })
  }

  /** What the sink saw, per batch, and when each batch committed. */
  final class Recorder {
    val files = new ConcurrentHashMap[Long, Seq[(Int, Long, Long)]]()
    val commitNs = new ConcurrentHashMap[Long, java.lang.Long]()
    val commitMs = new ConcurrentHashMap[Long, java.lang.Long]()
    val startMs = new ConcurrentHashMap[Long, java.lang.Long]()
    val fileBatch = new ConcurrentHashMap[Int, java.lang.Long]()
    val committed = new AtomicInteger
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    val duplicates = new AtomicInteger

    /** Collects the batch's (file, row) pairs and keeps per file the row
      * count and row-number sum, for the exactly-once check. */
    val sink: (DataFrame, Long) => Unit = (df, id) => {
      val got = df.select("file_no", "row_no").collect()
        .groupBy(_.getInt(0)).map { case (f, rs) =>
          (f, rs.length.toLong, rs.map(_.getInt(1).toLong).sum) }.toSeq
      files.put(id, got)
    }

    val listener: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val id = e.progress.batchId
        Option(files.get(id)).filter(_.nonEmpty).foreach { fs =>
          commitNs.putIfAbsent(id, System.nanoTime())
          commitMs.putIfAbsent(id, System.currentTimeMillis())
          startMs.putIfAbsent(id, java.time.Instant.parse(e.progress.timestamp).toEpochMilli)
          fs.foreach { case (f, _, _) =>
            if (fileBatch.putIfAbsent(f, id) != null) duplicates.incrementAndGet()
          }
          progress.add(e.progress)
          committed.addAndGet(fs.size)
        }
      }
    }

    def commitOf(f: Int): Option[Long] =
      Option(fileBatch.get(f)).flatMap(b => Option(commitNs.get(b))).map(_.longValue)
  }

  final case class Input(in: File, staging: File, ckpt: File, staged: Seq[Int])

  /** Write `ingested` workbooks into the directory and `staging` more
    * into a staging subdirectory the listing does not descend into. */
  def generate(ctx: Ctx, root: File, ingested: Int, staging: Int): Input = {
    val in = new File(root, "in")
    val stagingDir = new File(in, "_staging")
    stagingDir.mkdirs()
    val staged = ingested until ingested + staging
    val jobs = (0 until ingested).map(f => (new File(in, name(f)), f)) ++
      staged.map(f => (new File(stagingDir, name(f)), f))
    jobs.grouped(64).map(g => Future(g.foreach { case (file, f) =>
      writeFile(file, f, ctx.seed) })).toList.foreach(Await.result(_, Duration.Inf))
    Input(in, stagingDir, new File(root, "ckpt"), staged)
  }

  /** Ingest what the directory already holds, so the measured queries
    * resume from an offset that lists every file in it. */
  private def ingest(ctx: Ctx, in: Input): Unit = {
    val rec = new Recorder
    ctx.spark.streams.addListener(rec.listener)
    try {
      query(ctx.spark, in.in, in.ckpt, rec, Trigger.AvailableNow(), Ingested)
        .awaitTermination()
      awaitCount(rec, Ingested, 30)
    } finally ctx.spark.streams.removeListener(rec.listener)
    checkFiles(ctx, rec, 0 until Ingested, "ingest")
  }

  private def query(spark: SparkSession, in: File, ckpt: File, rec: Recorder,
      trigger: Trigger, maxFiles: Int): StreamingQuery =
    spark.readStream.format("excel").schema(schema)
      .option("maxFilesPerTrigger", maxFiles.toString)
      .load(in.getPath)
      .writeStream.foreachBatch(rec.sink)
      .option("checkpointLocation", ckpt.getPath)
      .trigger(trigger).start()

  private def awaitCount(rec: Recorder, n: Int, timeoutS: Double): Unit = {
    val end = System.nanoTime() + (timeoutS * 1e9).toLong
    while (rec.committed.get < n && System.nanoTime() < end) Thread.sleep(2)
  }

  /** Each file committed in exactly one batch with all its rows. */
  private def checkFiles(ctx: Ctx, rec: Recorder, fs: Seq[Int], what: String): Unit = {
    val seen = rec.files.asScala.values.flatten.groupBy(_._1)
    val want = RowsPerFile.toLong * (RowsPerFile + 1) / 2
    fs.foreach { f =>
      val got = seen.getOrElse(f, Nil).toSeq
      ctx.check(got.size == 1 && got.head._2 == RowsPerFile && got.head._3 == want,
        s"$what: file $f committed as $got")
    }
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val warmFiles = math.round(Rate * WarmSeconds).toInt
    val openFiles = warmFiles + math.max(20, math.round(Rate * ctx.seconds).toInt)
    val in = ctx.setup(5) { i =>
      if (i > 0) Workdir.delete(new File(ctx.work, s"stream-${i - 1}"))
      generate(ctx, new File(ctx.work, s"stream-$i"), Ingested, Drains * Backlog + openFiles)
    }
    ingest(ctx, in) // also the warm-up: class loading, the first query's costs
    val rec = new Recorder
    spark.streams.addListener(rec.listener)
    val before = ctx.sparkStats.map(_.sum(spark))
    val tStart = System.nanoTime()
    def land(f: Int): Unit = NioFiles.move(new File(in.staging, name(f)).toPath,
      new File(in.in, name(f)).toPath, StandardCopyOption.ATOMIC_MOVE)

    // (1) backlogs: land a burst, then drain it under maxFilesPerTrigger;
    // timed from the start of its first trigger to the commit of its last
    val drains = (0 until Drains).flatMap { d =>
      val fs = in.staged.slice(d * Backlog, (d + 1) * Backlog)
      val before = rec.committed.get
      fs.foreach(land)
      query(spark, in.in, in.ckpt, rec, Trigger.AvailableNow(), MaxFilesPerTrigger)
        .awaitTermination()
      awaitCount(rec, before + fs.size, 60)
      val batches = fs.flatMap(f => Option(rec.fileBatch.get(f))).distinct
      Option.when(fs.forall(rec.commitOf(_).isDefined)) {
        val ms = batches.map(rec.commitMs.get(_).longValue).max -
          batches.map(rec.startMs.get(_).longValue).min
        fs.size / (ms / 1000.0)
      }
    }
    // (2) open loop: file i is due at t0 + i / Rate, landed however late
    val q = query(spark, in.in, in.ckpt, rec, Trigger.ProcessingTime(0L), MaxFilesPerTrigger)
    val ready = System.nanoTime() + 10000000000L
    while (q.recentProgress.isEmpty && System.nanoTime() < ready) Thread.sleep(5)
    val open = in.staged.drop(Drains * Backlog)
    val base = rec.committed.get
    val t0 = System.nanoTime() + 100000000L
    val due = open.indices.map(i => t0 + (i / Rate * 1e9).toLong)
    val late = new Array[Double](open.size)
    val lag = new Array[Int](open.size)
    val gen = new Thread(() => open.indices.foreach { i =>
      val wait = due(i) - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
      land(open(i))
      late(i) = (System.nanoTime() - due(i)) / 1e6
      lag(i) = i + 1 - (rec.committed.get - base)
    }, "perfbench-generator")
    gen.start()
    gen.join()
    awaitCount(rec, base + open.size, 60)
    val wall = (System.nanoTime() - tStart) / 1e9
    q.stop()
    spark.streams.removeListener(rec.listener)

    checkFiles(ctx, rec, in.staged, "stream")
    ctx.check(rec.duplicates.get == 0 && rec.files.asScala.values.flatten
      .forall(_._1 >= Ingested), "stream: a file was committed twice")
    val latency = open.indices.drop(warmFiles)
      .flatMap(i => rec.commitOf(open(i)).map(c => (c - due(i)) / 1e9))
    if (drains.nonEmpty) ctx.e2e("rows_per_s", Stats.median(drains) * RowsPerFile, "rows/s")
    if (latency.nonEmpty) {
      val p = Stats.tailPercentile(latency.size)
      ctx.e2e("op_p50_s", Stats.median(latency), "s")
      if (ctx.traced)
        ctx.layer("stream.latency_tail_s", Stats.quantile(latency, p / 100.0), "s")
      ctx.log(s"xlsx_stream: ${latency.size} open-loop files at $Rate/s, tail = p$p; " +
        s"drain rates ${drains.map(d => f"$d%.1f").mkString(", ")} files/s; " +
        s"latency p50 by quarter ${latency.grouped((latency.size + 3) / 4)
          .map(q => f"${Stats.median(q)}%.3f").mkString(", ")} s")
    }

    if (ctx.traced) {
      val ps = rec.progress.asScala.toSeq
      val batches = ps.size
      Seq("latestOffset" -> "latest_offset", "getBatch" -> "get_batch",
        "queryPlanning" -> "query_planning", "addBatch" -> "add_batch",
        "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets",
        "triggerExecution" -> "trigger").foreach { case (k, n) =>
        // mean, not median: durationMs is whole milliseconds
        val xs = ps.flatMap(p => Option(p.durationMs.get(k)).map(_.doubleValue))
        if (xs.nonEmpty) ctx.layer(s"stream.${n}_ms", xs.sum / xs.size, "ms")
      }
      ctx.layer("stream.batches", batches, "count")
      ctx.layer("stream.files_per_batch",
        Stats.median(rec.files.asScala.values.map(_.size.toDouble).toSeq), "files")
      ps.lastOption.foreach(p => ctx.layer("stream.offset_json_bytes",
        p.sources.head.endOffset.getBytes("UTF-8").length, "B"))
      ctx.layer("stream.lag_files", lag.max, "files")
      ctx.layer("stream.generator_late_ms", late.max, "ms")
      ctx.sparkLayer(ctx.sparkStats.get.sum(spark) - before.get, batches, wall)
      layerCalls(ctx, in)
      val sample = in.staged.take(50).map(f => new File(in.in, name(f)))
      Codec.decode(ctx, sample, Map("inline" -> sample))
    }
  }

  /** Direct calls into the stream source's listing and offset algebra,
    * against the directory as the run left it. */
  private def layerCalls(ctx: Ctx, in: Input): Unit = {
    val conf = ctx.spark.sessionState.newHadoopConf()
    def timedMs(name: String)(body: => Any): Double = Stats.median((0 until 5).map { _ =>
      val t0 = System.nanoTime()
      ctx.tracer.span("stream", name)(body)
      (System.nanoTime() - t0) / 1e6
    })
    val listing = ExcelFiles.listEntries(in.in.getPath, conf).map(e => e.uri -> e.mtimeMs)
    ctx.layer("stream.list_ms", timedMs("list")(ExcelFiles.listEntries(in.in.getPath, conf)), "ms")
    val start = ExcelStreamOffset(listing.dropRight(MaxFilesPerTrigger))
    ctx.layer("stream.advance_ms", timedMs("advance") {
      ExcelStreamOffset.advance(start, listing, None, _.take(MaxFilesPerTrigger)).json()
    }, "ms")
  }
}
