package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.connector.catalog.SupportsRead
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.sources.excel._

/** `xlsx_read`: one client in a closed loop over six read shapes of the
  * same eight workbooks. Decode and scan planning do almost all the work;
  * nothing is encoded. Half the workbooks carry inline strings (what the
  * connector's writer produces), half a shared-string table with a
  * `<dimension>` header (what Excel and openpyxl produce); one is sparse. */
object ReadWorkload {

  val Files = 8
  val RowsPerFile = 12500
  val Shapes = Seq("full", "pruned", "count", "infer", "split", "arrow")

  final case class Input(dir: File, files: Seq[File], sum: Lineitem.Checksum) {
    def rows: Long = sum.sums(0)
  }

  def generate(ctx: Ctx, dir: File, rowsPerFile: Int): Input = {
    dir.mkdirs()
    val parts = (0 until Files).map { f =>
      Future {
        val rnd = new SplittableRandom(ctx.seed * 1000003L + f)
        val rows = (0 until rowsPerFile).map(i =>
          Lineitem.row(rnd, f.toLong * rowsPerFile + i, sparse = f == 3))
        val sum = new Lineitem.Checksum
        rows.foreach(sum.add)
        val file = new File(dir, f"part-$f%02d.xlsx")
        if (f < Files / 2) InlineBook.write(file, Lineitem.names, rows.iterator)
        else SharedStringsBook.write(file, Lineitem.names, rows)
        (file, sum)
      }
    }.map(Await.result(_, Duration.Inf))
    val total = new Lineitem.Checksum
    parts.foreach(p => total.merge(p._2))
    Input(dir, parts.map(_._1), total)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def excel = spark.read.format("excel").schema(Lineitem.schema)
    def checksum(df: DataFrame) = df.agg(Lineitem.checksumColumns.head,
      Lineitem.checksumColumns.tail: _*).head()

    def shapes(in: Input): Map[String, () => Boolean] = {
      val path = in.dir.getPath
      Map(
      "full" -> (() => in.sum.matches(checksum(excel.load(path)))),
      "pruned" -> (() => {
        val r = excel.load(path).where(col("l_discount") >= 0.08)
          .select(col("l_orderkey"), col("l_extendedprice"))
          .agg(count(lit(1)), coalesce(sum("l_orderkey"), lit(0L)),
            coalesce(sum(round(col("l_extendedprice") * 100).cast("long")), lit(0L)))
          .head()
        r.getLong(0) == in.sum.prunedRows && r.getLong(1) == in.sum.prunedKeys &&
          r.getLong(2) == in.sum.prunedPrice
      }),
      "count" -> (() => excel.load(path).count() == in.rows),
      "infer" -> (() => {
        val got = spark.read.format("excel").option("inferSchema", "true")
          .load(path).groupBy("l_returnflag")
          .agg(count(lit(1)), coalesce(sum("l_quantity"), lit(0L)).cast("long"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
        got == in.sum.byFlag.toMap
      }),
      "split" -> (() => in.sum.matches(checksum(excel
        .option("maxRowsPerPartition", (RowsPerFile / 2).toString).load(path)))),
      "arrow" -> (() => in.sum.matches(checksum(excel
        .option("enableArrow", "true").load(path)))))
    }

    val times = Shapes.map(_ -> collection.mutable.ArrayBuffer.empty[Double]).toMap
    val cycleTimes = collection.mutable.ArrayBuffer.empty[Double]
    def cycle(in: Input, record: Boolean): Unit = {
      val shape = shapes(in)
      val ts = Shapes.flatMap { s =>
        ctx.op(s"read $s")(ctx.tracer.span("scan", s)(shape(s)()))(identity)
          .map { t => if (record) times(s) += t; t }
      }
      if (record && ts.size == Shapes.size) cycleTimes += ts.sum
    }
    val in = ctx.setup(5)(i => generate(ctx, new File(ctx.work, s"read-$i"), RowsPerFile))
    // warm-up: class loading, query code generation, the first jobs and
    // the JIT, paid once per JVM before anything is timed; the second
    // cycle still runs a quarter slower than the ones after it
    (1 to (if (ctx.probing) 1 else 2)).foreach(_ => cycle(in, record = false))
    val before = ctx.sparkStats.map(_.sum(spark))
    def recordsRead() = ctx.sparkStats.map(st =>
      Shapes.map(s => s -> st.group(spark, s"scan.$s").recordsRead).toMap)
    val readBefore = recordsRead()
    val t0 = System.nanoTime()
    var cycles = 0
    ctx.loop(min = 3) { cycle(in, record = true); cycles += 1 }
    val wall = (System.nanoTime() - t0) / 1e9

    // the mix's median query time, as the median of the six shapes' own
    // medians: with a few samples per shape, a median over all queries
    // jumps between the two shapes that straddle it
    val shapeMedians = times.values.filter(_.nonEmpty).map(t => Stats.median(t.toSeq)).toSeq
    // throughput of the whole mix: every shape answers over all the rows
    if (cycleTimes.nonEmpty)
      ctx.e2e("rows_per_s", Stats.median(cycleTimes.map(in.rows * Shapes.size / _).toSeq),
        "rows/s")
    if (shapeMedians.nonEmpty) ctx.e2e("op_p50_s", Stats.median(shapeMedians), "s")
    ctx.log(s"xlsx_read: $cycles cycles of ${Shapes.size} shapes, " +
      s"${in.rows} rows in ${in.files.size} workbooks")

    if (ctx.traced) {
      Shapes.foreach(s => if (times(s).nonEmpty)
        ctx.layer(s"scan.${s}_s", Stats.median(times(s).toSeq), "s"))
      val stats = ctx.sparkStats.get
      ctx.sparkLayer(stats.sum(spark) - before.get, cycles, wall)
      // rows each shape needs, against the records its scan tasks read
      val useful = Map("full" -> in.rows, "pruned" -> in.sum.prunedRows,
        "count" -> 0L, "infer" -> in.rows, "split" -> in.rows, "arrow" -> in.rows)
      val read = recordsRead().get.map { case (s, n) => n - readBefore.get(s) }.sum
      ctx.layer("scan.records_read", read.toDouble / cycles, "rows/cycle")
      ctx.layer("scan.useful_ratio",
        useful.values.sum.toDouble * cycles / math.max(1L, read), "ratio")
      layerCalls(ctx, in)
      val codecRate = Codec.decode(ctx, in.files,
        Map("inline" -> in.files.take(Files / 2), "shared" -> in.files.drop(Files / 2)))
      times.get("full").filter(_.nonEmpty).foreach { t =>
        ctx.layer("scan.parallel_efficiency",
          in.rows / Stats.median(t.toSeq) / (codecRate * ctx.cores), "ratio")
      }
    }
  }

  /** Direct, Spark-job-free calls into the scan layer's planning code. */
  private def layerCalls(ctx: Ctx, in: Input): Unit = {
    val spark = ctx.spark
    val conf = spark.sessionState.newHadoopConf()
    val path = in.dir.getPath
    val opts = ExcelOptions.fromMap(Map("path" -> path))
    val files = in.files.map(_.toURI.toString)
    def timedMs(n: Int, name: String)(body: => Any): Double = Stats.median(
      (0 until n).map { _ =>
        val t0 = System.nanoTime()
        ctx.tracer.span("scan", name)(body)
        (System.nanoTime() - t0) / 1e6
      })
    ctx.layer("scan.plan_ms", timedMs(5, "plan") {
      val table = new ExcelDataSource().getTable(Lineitem.schema, Array.empty,
        Map("path" -> path).asJava).asInstanceOf[SupportsRead]
      table.newScanBuilder(new CaseInsensitiveStringMap(Map("path" -> path).asJava))
        .build().toBatch.planInputPartitions()
    }, "ms")
    val splitOpts = ExcelOptions.fromMap(Map("path" -> path,
      "maxRowsPerPartition" -> (RowsPerFile / 2).toString))
    ctx.layer("scan.split_plan_ms", timedMs(5, "split_plan") {
      ExcelSplitPlanner.plan(files, splitOpts, conf)
    }, "ms")
    ctx.layer("scan.infer_ms", timedMs(5, "infer_schema") {
      ExcelSchema.inferFromFile(files.head, opts, conf)
    }, "ms")
  }
}
