package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

object Stats {

  /** Linear-interpolated quantile, the same rule as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted.toIndexedSeq
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest whole percentile that still has at least ten samples
    * above it (p90 for 100 samples); 50 when there are too few. */
  def tailPercentile(n: Int): Int =
    math.max(50, math.floor(100.0 * (n - 10) / n).toInt)
}

/** Bytes allocated by the calling thread, for per-row allocation costs. */
object Alloc {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  def now(): Long = mx.getCurrentThreadAllocatedBytes
}

/** Old-generation occupancy right after a full collection. The benchmark
  * forces the collection at fixed points (after set-up, after the measured
  * window, at the end), never inside or between timed operations, so the
  * reading is the live set, not GC timing noise. */
final class HeapProbe {
  private val old = ManagementFactory.getMemoryPoolMXBeans.asScala.find(p =>
    p.getType == MemoryType.HEAP &&
      (p.getName.contains("Old") || p.getName.contains("Tenured")))
  private var peak = 0L

  def sample(): Unit = {
    System.gc()
    old.foreach(p => peak = math.max(peak, p.getUsage.getUsed))
  }

  def peakMb: Double = peak / 1048576.0
}

/** One traced call into a layer. `parent` is 0 for a root span. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
    startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out once at the end. Each span also becomes the Spark job group
  * of the jobs it starts, so [[SparkStats]] can charge tasks to it. With
  * tracing off, `span` is a plain call. */
final class Tracer(spark: SparkSession, val enabled: Boolean, runId: String) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new AtomicLong
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prevGroup = sc.getLocalProperty(SparkStats.GroupKey)
      sc.setLocalProperty(SparkStats.GroupKey, s"$layer.$name")
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SparkStats.GroupKey, prevGroup)
        spans.synchronized(spans += Span(id, parent, layer, name, t0, t1))
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Per layer: the time its spans were open minus the part of that time
    * their child spans cover. */
  def selfSeconds: Map[String, Double] = {
    val ss = all
    val children = ss.groupBy(_.parent)
    ss.groupBy(_.layer).map { case (layer, own) =>
      layer -> own.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.endNs - s.startNs - covered) / 1e9
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  /** One JSON object per span: name, layer, start, end, parent, run id. */
  def write(file: File): Unit = {
    file.getParentFile.mkdirs()
    val out = new PrintWriter(file, "UTF-8")
    try all.sortBy(_.startNs).foreach { s =>
      out.println(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},""" +
        s""""layer":"${s.layer}","name":"${s.name}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    } finally out.close()
  }
}

/** Task and job counters per job group, from the scheduler's listener
  * events — the only view the benchmark has of the `spark` layer. */
final class SparkStats extends SparkListener {
  import SparkStats._

  private val groups = new ConcurrentHashMap[String, Acc]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def acc(g: String): Acc = groups.computeIfAbsent(g, _ => new Acc)
  private def groupOf(p: java.util.Properties): String =
    Option(p).flatMap(x => Option(x.getProperty(GroupKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val a = acc(groupOf(e.properties))
    a.synchronized(a.jobs += 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val g = groupOf(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    val a = acc(g)
    a.synchronized(a.stages += 1)
  }

  /** Stamped on arrival, in the clock the benchmark times with; the
    * event's own completion time has only millisecond resolution. */
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val a = acc(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    val now = System.nanoTime()
    a.synchronized(a.lastStageEndNs = math.max(a.lastStageEndNs, now))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val a = acc(stageGroup.getOrDefault(e.stageId, ""))
    a.synchronized {
      a.tasks += 1
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.recordsRead += m.inputMetrics.recordsRead
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  /** Counters of one group, after the bus has drained. */
  def group(spark: SparkSession, g: String): Acc = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    acc(g).copy()
  }

  /** All groups whose name starts with `prefix`, summed. */
  def sum(spark: SparkSession, prefix: String = ""): Acc = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    groups.asScala.filter(_._1.startsWith(prefix)).values
      .foldLeft(new Acc)((x, y) => x + y.copy())
  }
}

object SparkStats {
  val GroupKey = "spark.jobGroup.id"

  final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, gcMs, shuffleWrite, recordsRead, peakMem, spill = 0L
    var lastStageEndNs = 0L
    def copy(): Acc = synchronized(this + new Acc)
    def +(o: Acc): Acc = {
      val r = new Acc
      r.jobs = jobs + o.jobs; r.stages = stages + o.stages
      r.tasks = tasks + o.tasks; r.runMs = runMs + o.runMs
      r.gcMs = gcMs + o.gcMs; r.shuffleWrite = shuffleWrite + o.shuffleWrite
      r.recordsRead = recordsRead + o.recordsRead
      r.peakMem = math.max(peakMem, o.peakMem); r.spill = spill + o.spill
      r.lastStageEndNs = math.max(lastStageEndNs, o.lastStageEndNs)
      r
    }
    def -(o: Acc): Acc = {
      val r = this + new Acc
      r.jobs -= o.jobs; r.stages -= o.stages; r.tasks -= o.tasks
      r.runMs -= o.runMs; r.gcMs -= o.gcMs; r.shuffleWrite -= o.shuffleWrite
      r.recordsRead -= o.recordsRead; r.spill -= o.spill
      r
    }
  }
}

/** Everything one run shares: the session, the seed, the clock budget,
  * the failure count and the metrics collected so far.
  *
  * A run has one primary workload. A traced run then runs every other
  * workload as a short probe (`probe`), so that it reports every layer's
  * metrics. Once the primary workload is done (`endPrimary`), a probe
  * adds only the metrics the primary workload did not report. */
final class Ctx(val spark: SparkSession, val seed: Long, var seconds: Double,
    val traced: Boolean, val work: File, val traceDir: File,
    val runId: String) {

  val cores: Int = spark.sparkContext.defaultParallelism
  val tracer = new Tracer(spark, traced, runId)
  val heap = new HeapProbe
  val sparkStats: Option[SparkStats] = Option.when(traced) {
    val l = new SparkStats
    spark.sparkContext.addSparkListener(l)
    l
  }

  private val endToEnd = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val perLayer = mutable.LinkedHashMap.empty[String, (Double, String)]
  @volatile var attempted = 0L
  @volatile var failed = 0L
  private var probeRun = false
  /** True while a probe runs: set up once, untimed; warm up and measure
    * one pass. */
  def probing: Boolean = probeRun

  def e2e(name: String, value: Double, unit: String): Unit =
    if (!probing || !endToEnd.contains(name)) endToEnd(name) = (value, unit)
  def layer(name: String, value: Double, unit: String): Unit =
    if (!probing || !perLayer.contains(name)) perLayer(name) = (value, unit)

  /** Close the primary workload: its heap peak is the run's. */
  def endPrimary(): Unit = {
    heap.sample()
    e2e("heap_peak_mb", heap.peakMb, "MB")
  }

  /** Run another workload as a probe of `secs` seconds. */
  def probe(secs: Double)(body: => Unit): Unit = {
    probeRun = true
    seconds = secs
    body
  }

  private val t0 = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - t0) / 1e9}%.1fs $msg")

  /** Record one operation's outcome; a false check is a failure. */
  def check(ok: Boolean, what: => String): Boolean = synchronized {
    attempted += 1
    if (!ok) { failed += 1; log(s"CHECK FAILED: $what") }
    ok
  }

  /** One timed operation with an untimed check of its result. Returns the
    * seconds taken when the operation ran and its output checked out. */
  def op[T](what: String)(timed: => T)(verify: T => Boolean): Option[Double] = {
    val t0 = System.nanoTime()
    val res = try Right(timed) catch { case NonFatal(e) => Left(e) }
    val secs = (System.nanoTime() - t0) / 1e9
    res match {
      case Left(e) =>
        check(ok = false, s"$what threw $e")
        None
      case Right(v) =>
        val ok = try verify(v) catch {
          case NonFatal(e) => log(s"$what check threw $e"); false
        }
        log(f"$what%-20s $secs%.3f s")
        if (check(ok, s"$what output differs from the generator's")) Some(secs)
        else None
    }
  }

  /** Set up once untimed, so the set-up code is compiled, then `times`
    * times timed; keep the last result and report the median. A probe
    * sets up once only. */
  def setup[T](times: Int)(body: Int => T): T = {
    var out = body(0)
    if (!probing) {
      val secs = (1 to times).map { i =>
        val t0 = System.nanoTime()
        out = body(i)
        (System.nanoTime() - t0) / 1e9
      }
      e2e("setup_s", Stats.median(secs), "s")
      log(s"set up $times times: ${secs.map(x => f"$x%.2f").mkString(", ")} s")
      heap.sample()
    }
    out
  }

  /** Run `body` at least `min` times (a probe: once), then again while
    * one more run is expected to end within the window of `seconds`. */
  def loop(min: Int)(body: => Unit): Unit = {
    log("warm-up done, measuring")
    val start = System.nanoTime()
    var n = 0
    def elapsed = (System.nanoTime() - start) / 1e9
    while (n < (if (probing) 1 else min) || elapsed * (n + 1) / n <= seconds) {
      body
      n += 1
    }
    heap.sample()
  }

  /** Per-op Spark counters over a measured window. */
  def sparkLayer(window: SparkStats.Acc, opCount: Int, wallS: Double): Unit = {
    val ops = math.max(1, opCount)
    layer("spark.jobs", window.jobs.toDouble / ops, "jobs/op")
    layer("spark.stages", window.stages.toDouble / ops, "stages/op")
    layer("spark.tasks", window.tasks.toDouble / ops, "tasks/op")
    layer("spark.task_busy_share", window.runMs / 1000.0 / (wallS * cores), "share")
    layer("spark.gc_share",
      if (window.runMs == 0) 0.0 else window.gcMs.toDouble / window.runMs, "share")
    layer("spark.shuffle_bytes", window.shuffleWrite.toDouble / ops, "B/op")
  }

  def resultJson(): String = {
    if (traced) {
      tracer.selfSeconds.foreach { case (l, s) => layer(s"self_s.$l", s, "s") }
      layer("error_rate", if (attempted == 0) 1.0 else failed.toDouble / attempted, "share")
      // the traced run's own end-to-end figures, to set against an
      // untraced run's: their difference is the tracing overhead
      endToEnd.foreach { case (n, (v, u)) => layer(s"traced.$n", v, u) }
      tracer.write(new File(traceDir, s"$runId.jsonl"))
    }
    val shown = if (traced) perLayer else endToEnd
    shown.foreach { case (n, (v, u)) => println(f"$n%-40s $v%16.6f $u") }
    val metrics = shown.map { case (n, (v, u)) =>
      s""""$n": {"value": ${Json.num(v)}, "unit": "$u"}"""
    }.mkString(", ")
    val correct = failed == 0 && attempted > 0
    s"""{"correct": $correct, "attempted": ${math.max(1L, attempted)}, """ +
      s""""failed": $failed, "metrics": {$metrics}}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}

object Workdir {
  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(sizeOf).sum else f.length

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(delete)
    f.delete()
  }
}
