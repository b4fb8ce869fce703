package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Row-range split reads (`maxRowsPerPartition`): one large workbook fans
  * out to many partitions, each decoding only its slice — the connector's
  * parallel path for the single-big-file shape the reference serializes
  * (1 file = 1 task, connector.py:136-160). */
class ExcelSplitReadSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("graft-split-spec").toFile
    d.deleteOnExit()
    d
  }

  private def bigFile(dir: File, rows: Int, header: Boolean = true): File = {
    val f = new File(dir, "big.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    if (header) w.writeRow(Seq("id", "name"))
    (1 to rows).foreach(i => w.writeRow(Seq(i.toLong, s"row$i")))
    w.close()
    f
  }

  private val idName = StructType(Seq(
    StructField("id", IntegerType), StructField("name", StringType)))

  test("one big file splits into ceil(n/maxRows) partitions with identical data") {
    val f = bigFile(tmpDir(), rows = 1000)
    val whole = spark.read.format("excel").schema(idName)
      .load(f.getAbsolutePath)
    val split = spark.read.format("excel").schema(idName)
      .option("maxRowsPerPartition", "300")
      .load(f.getAbsolutePath)
    assert(whole.rdd.getNumPartitions == 1)
    assert(split.rdd.getNumPartitions == 4) // 300+300+300+100
    assert(split.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      whole.collect().map(r => (r.getInt(0), r.getString(1))).toSet)
    assert(split.count() == 1000)
    // per-partition sizes: three full splits + remainder (last is unbounded)
    val sizes = split.rdd.mapPartitions(it => Iterator(it.size)).collect().sorted
    assert(sizes.toSeq == Seq(100, 300, 300, 300))
  }

  test("split read without header uses positional columns") {
    val dir = tmpDir()
    val f = bigFile(dir, rows = 50, header = false)
    val df = spark.read.format("excel")
      .option("header", "false").option("inferSchema", "true")
      .option("maxRowsPerPartition", "20")
      .load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 50)
    assert(df.agg(sum(col("0"))).collect().head.getLong(0) == 50L * 51 / 2)
  }

  test("split read composes with column pruning, filters, and aggregation") {
    val f = bigFile(tmpDir(), rows = 1000)
    val df = spark.read.format("excel").schema(idName)
      .option("maxRowsPerPartition", "250")
      .load(f.getAbsolutePath)
      .filter(col("id") > 900)
      .select(col("id"))
    assert(df.count() == 100)
    assert(df.agg(sum(col("id"))).collect().head.getLong(0) ==
      (901L to 1000L).sum)
  }

  test("splitting a file smaller than maxRows yields a single partition") {
    val f = bigFile(tmpDir(), rows = 10)
    val df = spark.read.format("excel").schema(idName)
      .option("maxRowsPerPartition", "1000")
      .load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 1)
    assert(df.count() == 10)
  }

  test("split read composes with the enableArrow option") {
    val f = bigFile(tmpDir(), rows = 500)
    val df = spark.read.format("excel").schema(idName)
      .option("enableArrow", "true")
      .option("maxRowsPerPartition", "200")
      .load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 3)
    assert(df.count() == 500)
    assert(df.agg(sum(col("id"))).collect().head.getLong(0) == 500L * 501 / 2)
  }

  test("streaming read honors maxRowsPerPartition per admitted file") {
    val in = tmpDir()
    val out = Files.createTempDirectory("graft-split-sink").toFile
    val ckpt = Files.createTempDirectory("graft-split-ckpt").toFile
    bigFile(in, rows = 100)
    val q = spark.readStream.format("excel").schema(idName)
      .option("maxRowsPerPartition", "30")
      .load(in.getAbsolutePath)
      .writeStream.format("parquet")
      .option("path", out.getAbsolutePath)
      .option("checkpointLocation", ckpt.getAbsolutePath)
      .start()
    try {
      q.processAllAvailable()
      val got = spark.read.parquet(out.getAbsolutePath)
      assert(got.count() == 100)
      assert(got.agg(sum(col("id"))).collect().head.getLong(0) == 100L * 101 / 2)
      // 4 splits → 4 files written by the parquet sink for the batch
      assert(out.listFiles().count(_.getName.endsWith(".parquet")) == 4)
    } finally q.stop()
  }

  test("splits per file are capped (maxSplitsPerFile) with rows intact") {
    val f = bigFile(tmpDir(), rows = 1000)
    // wanted = 100 splits of 10 rows; cap 8 → 8 splits of 125
    val df = spark.read.format("excel").schema(idName)
      .option("maxRowsPerPartition", "10")
      .option("maxSplitsPerFile", "8")
      .load(f.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 8)
    assert(df.count() == 1000)
    assert(df.agg(sum(col("id"))).collect().head.getLong(0) == 1000L * 1001 / 2)
    // default cap (64) also binds: perSplit grows to ceil(1000/64) = 16,
    // which covers the sheet in ceil(1000/16) = 63 splits — the split
    // count is recomputed so no empty trailing split is planned
    val dfDefault = spark.read.format("excel").schema(idName)
      .option("maxRowsPerPartition", "2")
      .load(f.getAbsolutePath)
    assert(dfDefault.rdd.getNumPartitions == 63)
    assert(dfDefault.count() == 1000)
  }

  test("planning a 100-file directory probes in parallel with stable output") {
    val dir = tmpDir()
    (0 until 100).foreach { i =>
      val f = new File(dir, f"part-$i%03d.xlsx")
      val w = new XlsxWriter(new FileOutputStream(f))
      w.writeRow(Seq("id", "name"))
      (1 to 50).foreach(j => w.writeRow(Seq((i * 50 + j).toLong, s"r$j")))
      w.close()
    }
    val df = spark.read.format("excel").schema(idName)
      .option("maxRowsPerPartition", "20")
      .load(dir.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 300) // 100 files x ceil(50/20)
    assert(df.count() == 5000)
    assert(df.agg(sum(col("id"))).collect().head.getLong(0) == 5000L * 5001 / 2)
  }

  test("ranged row iterator: gaps, skip, and boundary semantics") {
    // craft a sheet with missing row numbers: rows 1,2,5,6 present (3,4 gap)
    val dir = tmpDir()
    val f = new File(dir, "gaps.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    (1 to 6).foreach { i =>
      if (i == 3 || i == 4) w.writeRow(Seq.empty)
      else w.writeRow(Seq(i.toLong))
    }
    w.close()
    val rd = new XlsxReader(f)
    try {
      val sheet = rd.sheets.head
      assert(rd.lastRowNumber(sheet) == 6)
      // full read: 6 dense rows
      assert(rd.rowIterator(sheet).size == 6)
      // range [2,5): rows 2 (value), 3,4 (empty)
      val mid = rd.rowIterator(sheet, 2, 5).toSeq
      assert(mid.map(_.length) == Seq(1, 0, 0))
      // range beyond the end: empty
      assert(rd.rowIterator(sheet, 7, 100).isEmpty)
    } finally rd.close()
  }
}
