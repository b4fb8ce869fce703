package perfbench

import java.io.File

import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One workload, one seed, one JVM:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <trace dir>`.
  * Prints each metric on its own line, then the result object as the last
  * line of standard output. */
object Main {

  val Workloads: Seq[(String, Ctx => Unit)] = Seq(
    "xlsx_read" -> ReadWorkload.run,
    "xlsx_stream" -> StreamWorkload.run,
    "docs_curate" -> CurateWorkload.run)
  /** A traced run measures its workload over at most this many seconds,
    * then probes each other workload over `ProbeSeconds`, so that it ends
    * well within its time limit. */
  val TracedSeconds = 8.0
  val ProbeSeconds = 2.0

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, traceDirS) = args
    val body = Workloads.toMap.getOrElse(workload,
      sys.error(s"unknown workload $workload; one of ${Workloads.map(_._1).mkString(", ")}"))
    val work = new File(workS)
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * cores).toString)
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.sparkContext.setCheckpointDir(new File(work, "checkpoints").getPath)
    val runId = s"$workload-seed$seedS-trace$traceS"
    val traced = traceS == "1"
    val seconds = if (traced) math.min(secondsS.toDouble, TracedSeconds) else secondsS.toDouble
    val ctx = new Ctx(spark, seedS.toLong, seconds, traced, work, new File(traceDirS), runId)
    def guarded(w: String)(run: => Unit): Unit = try run catch {
      case NonFatal(e) =>
        // an aborted workload is one more failed operation, not a lost run
        e.printStackTrace()
        ctx.check(ok = false, s"$w aborted: $e")
    }
    guarded(workload)(body(ctx))
    ctx.endPrimary()
    // a traced run reports every layer, so it also probes the layers the
    // primary workload leaves alone, after everything primary is measured
    if (traced) Workloads.filterNot(_._1 == workload).foreach { case (w, probe) =>
      ctx.log(s"probe $w")
      ctx.probe(ProbeSeconds)(guarded(w)(probe(ctx)))
    }
    println(ctx.resultJson())
    System.out.flush()
    // every query is stopped and the work dir is removed by the caller;
    // skipping Spark's shutdown saves a second per run
    Runtime.getRuntime.halt(0)
  }
}
