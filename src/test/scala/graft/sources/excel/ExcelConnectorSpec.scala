package graft.sources.excel

import java.io.{File, FileOutputStream}
import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Conformance port of the reference's test behaviors
  * (`/root/reference/tests/test_excel_connector.py` — the live e2e script
  * plus the seven disabled-but-intent-documenting function tests, SURVEY.md
  * §5) onto the native DSv2 connector. */
class ExcelConnectorSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  private def tmpDir(): File = {
    val d = Files.createTempDirectory("graft-excel-spec").toFile
    d.deleteOnExit()
    d
  }

  /** Write a sample workbook of (id, name) rows like the reference's
    * fixture builder (test_excel_connector.py:15-28). */
  private def sampleFile(dir: File, fname: String, rows: Seq[(Int, String)],
      header: Boolean = true): File = {
    val f = new File(dir, fname)
    val w = new XlsxWriter(new FileOutputStream(f))
    if (header) w.writeRow(Seq("id", "name"))
    rows.foreach { case (i, n) => w.writeRow(Seq(i.toLong, n)) }
    w.close()
    f
  }

  private val idName = StructType(Seq(
    StructField("id", IntegerType, nullable = true),
    StructField("name", StringType, nullable = true)))

  /** All messages down a cause chain (for asserting on wrapped errors). */
  private def msgs(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))

  test("directory read: explicit schema, 3 files → union of rows, 3 partitions") {
    val dir = tmpDir()
    sampleFile(dir, "sample_1.xlsx", Seq(1 -> "Alice", 2 -> "Bob"))
    sampleFile(dir, "sample_2.xlsx", Seq(3 -> "Charlie", 4 -> "David"))
    sampleFile(dir, "sample_3.xlsx", Seq(5 -> "Eve"))
    new File(dir, "ignored.txt").createNewFile() // non-xlsx must be skipped

    val df = spark.read.format("excel")
      .schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("path", dir.getAbsolutePath)
      .load()
    assert(df.rdd.getNumPartitions == 3) // N files → N partitions contract
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set(1 -> "Alice", 2 -> "Bob", 3 -> "Charlie",
      4 -> "David", 5 -> "Eve"))
  }

  test("directory read admits .xlsm (same OOXML zip), still skips .xls") {
    val dir = tmpDir()
    sampleFile(dir, "plain.xlsx", Seq(1 -> "Alice"))
    // an .xlsm is the identical zip container (the reader never opens the
    // macro part), so writing one with the same codec is a faithful fixture
    sampleFile(dir, "macro.XLSM", Seq(2 -> "Bob")) // case-insensitive too
    new File(dir, "legacy.xls").createNewFile() // BIFF, not a zip: skipped

    val df = spark.read.format("excel")
      .schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("path", dir.getAbsolutePath)
      .load()
    assert(df.rdd.getNumPartitions == 2)
    val got = df.collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(got == Set(1 -> "Alice", 2 -> "Bob"))
  }

  test("xlsxOnly=true restores the reference's .xlsx-only listing (B6 parity)") {
    val dir = tmpDir()
    sampleFile(dir, "plain.xlsx", Seq(1 -> "Alice"))
    sampleFile(dir, "macro.xlsm", Seq(2 -> "Bob"))
    def read(strict: Boolean) = spark.read.format("excel")
      .schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("xlsxOnly", strict.toString)
      .option("path", dir.getAbsolutePath)
      .load()
    // default: superset admits the .xlsm
    assert(read(strict = false).count() == 2)
    // strict parity: the .xlsm vanishes from the listing entirely
    val strictDf = read(strict = true)
    assert(strictDf.rdd.getNumPartitions == 1)
    assert(strictDf.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice"))
  }

  test("OFFSET pushes down completely on a single-file scan") {
    val dir = tmpDir()
    val f = sampleFile(dir, "one.xlsx", (1 to 10).map(i => i -> s"n$i"))
    val df = spark.read.format("excel").schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .load(f.getAbsolutePath)
    val page = df.offset(3)
    val plan = page.queryExecution.executedPlan.toString
    assert(plan.contains("PushedOffset=3"),
      s"offset should reach the scan:\n$plan")
    // complete pushdown: no Offset operator survives in the plan
    assert(!plan.contains("GlobalLimitAndOffset") && !plan.contains("Offset "),
      s"Offset operator should have been removed:\n$plan")
    assert(page.collect().map(_.getInt(0)).toSeq == (4 to 10))
    // offset + limit pagination: rows 4..6
    val p2 = df.offset(3).limit(3)
    assert(p2.queryExecution.executedPlan.toString.contains("PushedOffset=3"))
    assert(p2.collect().map(_.getInt(0)).toSeq == (4 to 6))
  }

  test("TABLESAMPLE pushes down: Bernoulli in-reader, deterministic, no Sample node") {
    val dir = tmpDir()
    sampleFile(dir, "s1.xlsx", (1 to 400).map(i => i -> s"n$i"))
    sampleFile(dir, "s2.xlsx", (401 to 800).map(i => i -> s"n$i"))
    val df = spark.read.format("excel").schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("path", dir.getAbsolutePath).load()
    val s = df.sample(withReplacement = false, fraction = 0.25, seed = 7L)
    val plan = s.queryExecution.executedPlan.toString
    assert(plan.contains("PushedSample=[0.0,0.25,seed=7]"),
      s"sample should reach the scan:\n$plan")
    assert(!plan.contains("Sample "), // complete pushdown removes the node
      s"Sample operator should have been removed:\n$plan")
    val ids = s.collect().map(_.getInt(0)).toSeq
    // Bernoulli(0.25) over 800 rows: mean 200, sd ≈ 12 → a ±6σ window
    assert(ids.length > 120 && ids.length < 280, s"got ${ids.length}")
    assert(ids == ids.sorted && ids.distinct == ids) // per-file order, no dups
    // deterministic: the same scan re-collected reproduces the sample
    assert(s.collect().map(_.getInt(0)).toSeq == ids)
    // composes with aggregation ABOVE the scan (agg pushdown declines)
    assert(s.count() == ids.length)
    // with-replacement declines: the Sample node must survive
    val wr = df.sample(withReplacement = true, fraction = 0.25, seed = 7L)
    assert(!wr.queryExecution.executedPlan.toString.contains("PushedSample"))
  }

  test("sample + offset never both push (offset over raw rows would be wrong)") {
    val dir = tmpDir()
    val f = sampleFile(dir, "so.xlsx", (1 to 200).map(i => i -> s"n$i"))
    val df = spark.read.format("excel").schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .load(f.getAbsolutePath)
    val q = df.sample(withReplacement = false, fraction = 0.5, seed = 3L)
      .offset(4)
    val plan = q.queryExecution.executedPlan.toString
    // the sample may push; the OFFSET must then stay an engine operator —
    // SQL semantics skip 4 SAMPLED rows, not 4 raw rows
    assert(!(plan.contains("PushedSample") && plan.contains("PushedOffset")),
      s"sample and offset both pushed — offset applies pre-sample:\n$plan")
    // pin the DIRECTION of the guard, not just mutual exclusion: Spark
    // offers pushSample before pushOffset, so on this single-file scan
    // the sample must have pushed and pushOffset must have DECLINED
    // (sample.nonEmpty guard in ExcelScan.pushOffset). If Spark ever
    // reorders its pushdown sequence this assert fails loudly instead of
    // the scan silently skipping 4 raw rows.
    assert(plan.contains("PushedSample=[0.0,0.5,seed=3]"),
      s"sample should have pushed on a single-file scan:\n$plan")
    assert(!plan.contains("PushedOffset"),
      s"offset must decline when the sample is pushed:\n$plan")
    // values: engine result == sampled rows minus the first 4
    val sampled = df.sample(withReplacement = false, fraction = 0.5, seed = 3L)
      .collect().map(_.getInt(0)).toSeq
    assert(q.collect().map(_.getInt(0)).toSeq == sampled.drop(4))
  }

  test("OFFSET declines on multi-file scans (order undefined), still correct") {
    val dir = tmpDir()
    sampleFile(dir, "a.xlsx", Seq(1 -> "x", 2 -> "y"))
    sampleFile(dir, "b.xlsx", Seq(3 -> "z", 4 -> "w"))
    val df = spark.read.format("excel").schema(idName)
      .option("header", "true").option("inferSchema", "false")
      .option("path", dir.getAbsolutePath).load()
    val page = df.orderBy("id").offset(1)
    assert(!page.queryExecution.executedPlan.toString.contains("PushedOffset"),
      "offset must not push into a multi-partition scan")
    assert(page.collect().map(_.getInt(0)).toSeq == Seq(2, 3, 4))
  }

  test("user schema: extra file columns ignored") {
    val dir = tmpDir()
    val f = new File(dir, "extra.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "name", "extra"))
    w.writeRow(Seq(1L, "Alice", "X"))
    w.close()
    val df = spark.read.format("excel").schema(idName)
      .load(f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice"))
  }

  test("user schema: missing file column → read error") {
    val dir = tmpDir()
    val f = new File(dir, "missing.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id"))
    w.writeRow(Seq(1L))
    w.close()
    val df = spark.read.format("excel").schema(idName)
      .load(f.getAbsolutePath)
    val e = intercept[Exception](df.collect())
    assert(e.getMessage.contains("name") ||
      Option(e.getCause).exists(_.getMessage.contains("name")))
  }

  test("inferSchema=true → Integer id, String name") {
    val dir = tmpDir()
    val f = sampleFile(dir, "infer.xlsx", Seq(1 -> "Alice", 2 -> "Bob"))
    val df = spark.read.format("excel")
      .option("inferSchema", "true").load(f.getAbsolutePath)
    assert(df.schema("id").dataType == IntegerType) // reference-compatible
    assert(df.schema("name").dataType == StringType)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice", 2 -> "Bob"))
  }

  test("inferSchema=false, no schema → all strings, numeric text without .0") {
    val dir = tmpDir()
    val f = sampleFile(dir, "strings.xlsx", Seq(1 -> "Alice"))
    val df = spark.read.format("excel")
      .option("inferSchema", "false").load(f.getAbsolutePath)
    assert(df.schema.fields.forall(_.dataType == StringType))
    val row = df.collect().head
    assert(row.getString(0) == "1") // "1", not "1.0" (connector.py:129-141 intent)
    assert(row.getString(1) == "Alice")
  }

  test("inferSchema=false + user schema → schema wins") {
    val dir = tmpDir()
    val f = sampleFile(dir, "schemawins.xlsx", Seq(7 -> "Zoe"))
    val df = spark.read.format("excel").schema(idName)
      .option("inferSchema", "false").load(f.getAbsolutePath)
    assert(df.schema == idName)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet == Set(7 -> "Zoe"))
  }

  test("N files → N partitions with per-file contents") {
    val dir = tmpDir()
    (1 to 5).foreach(i => sampleFile(dir, s"sample_$i.xlsx", Seq(i -> s"Name_$i")))
    val df = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath)
    assert(df.rdd.getNumPartitions == 5)
    assert(df.count() == 5)
    assert(df.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      (1 to 5).map(i => i -> s"Name_$i").toSet)
  }

  test("write round-trip: single partition, mode overwrite") {
    val dir = tmpDir()
    val out = new File(dir, "output.xlsx").getAbsolutePath
    import spark.implicits._
    val df = Seq((1, "Alice"), (2, "Bob"), (3, "Charlie")).toDF("id", "name")
    df.coalesce(1).write.format("excel").mode("overwrite").save(out)
    // overwrite again to exercise truncate
    df.coalesce(1).write.format("excel").mode("overwrite").save(out)
    val back = spark.read.format("excel").schema(idName).load(out)
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice", 2 -> "Bob", 3 -> "Charlie"))
  }

  test("headerBold + columnWidths style the workbook without changing data") {
    val dir = tmpDir()
    val out = new File(dir, "styled.xlsx")
    import spark.implicits._
    val df = Seq((1, "Alice"), (2, "Bob")).toDF("id", "name")
    df.coalesce(1).write.format("excel")
      .option("headerBold", "true")
      .option("columnWidths", "id=8,name=32")
      .mode("overwrite").save(out.getAbsolutePath)

    // data round-trips unchanged through our reader (styles are ignored)
    val back = spark.read.format("excel").schema(idName)
      .load(out.getAbsolutePath)
    assert(back.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      Set(1 -> "Alice", 2 -> "Bob"))

    // the OOXML parts carry the styling: a <cols> block with both widths
    // and a bold header xf referenced by the header cells
    val zf = new java.util.zip.ZipFile(out)
    def part(n: String): String = {
      val in = zf.getInputStream(zf.getEntry(n))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }
    try {
      val sheet1 = part("xl/worksheets/sheet1.xml")
      assert(sheet1.contains("<cols>") &&
        sheet1.contains("min=\"1\" max=\"1\" width=\"8.0\"") &&
        sheet1.contains("min=\"2\" max=\"2\" width=\"32.0\""), sheet1.take(400))
      assert(sheet1.contains("s=\"3\""), "header cells should use the bold xf")
      val styles = part("xl/styles.xml")
      assert(styles.contains("<b/>"), "bold font must exist")
      assert(styles.contains("fontId=\"1\""), "an xf must reference it")
    } finally zf.close()

    // unknown width column name is rejected at planning
    val e = intercept[IllegalArgumentException] {
      df.write.format("excel").option("columnWidths", "nope=9")
        .mode("overwrite").save(new File(dir, "x.xlsx").getAbsolutePath)
    }
    assert(e.getMessage.contains("not in the write schema"))
  }

  test("write: multi-partition merge preserves partition order into ONE file") {
    val dir = tmpDir()
    val out = new File(dir, "merged.xlsx").getAbsolutePath
    import spark.implicits._
    val df = spark.range(0, 100, 1, 8) // 8 partitions, ordered ids
      .select($"id".cast("int").as("id"),
        concat(lit("n"), $"id").as("name"))
    df.write.format("excel").mode("overwrite").save(out)
    assert(new File(out).isFile) // single workbook, not a directory
    val back = spark.read.format("excel").schema(idName).load(out)
    val ids = back.collect().map(_.getInt(0)).toSeq
    assert(ids == (0 until 100)) // partition-ordered merge ⇒ deterministic
  }

  test("write round-trip across all six types incl. date/timestamp/bool") {
    val dir = tmpDir()
    val out = new File(dir, "types.xlsx").getAbsolutePath
    import spark.implicits._
    val df = Seq(
      (1, 9999999999L, 1.5, true,
        java.sql.Date.valueOf("2020-02-29"),
        java.sql.Timestamp.valueOf("2024-06-01 12:34:56")),
      (2, -5L, -0.25, false,
        java.sql.Date.valueOf("1970-01-01"),
        java.sql.Timestamp.valueOf("1999-12-31 23:59:59"))
    ).toDF("i", "l", "d", "b", "dt", "ts")
    df.coalesce(1).write.format("excel").mode("overwrite").save(out)
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    val back = spark.read.format("excel").schema(schema).load(out)
      .orderBy("i").collect()
    assert(back(0).getInt(0) == 1)
    assert(back(0).getLong(1) == 9999999999L)
    assert(back(0).getDouble(2) == 1.5)
    assert(back(0).getBoolean(3))
    assert(back(0).getDate(4) == java.sql.Date.valueOf("2020-02-29"))
    assert(back(0).getTimestamp(5) == java.sql.Timestamp.valueOf("2024-06-01 12:34:56"))
    assert(back(1).getTimestamp(5) == java.sql.Timestamp.valueOf("1999-12-31 23:59:59"))
  }

  test("sheetName selects a sheet by name or index") {
    // hand-craft a 2-sheet workbook (writer is single-sheet by design)
    val dir = tmpDir()
    val f = new File(dir, "multi.xlsx")
    val zip = new java.util.zip.ZipOutputStream(new FileOutputStream(f))
    def entry(name: String, content: String): Unit = {
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(content.getBytes("UTF-8")); zip.closeEntry()
    }
    entry("xl/workbook.xml",
      """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships"><sheets><sheet name="Data" sheetId="1" r:id="rId1"/><sheet name="Other" sheetId="2" r:id="rId2"/></sheets></workbook>""")
    entry("xl/_rels/workbook.xml.rels",
      """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships"><Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/><Relationship Id="rId2" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet2.xml"/></Relationships>""")
    entry("xl/worksheets/sheet1.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c t="inlineStr"><is><t>id</t></is></c></row><row r="2"><c><v>1</v></c></row></sheetData></worksheet>""")
    entry("xl/worksheets/sheet2.xml",
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData><row r="1"><c t="inlineStr"><is><t>id</t></is></c></row><row r="2"><c><v>2</v></c></row></sheetData></worksheet>""")
    zip.close()
    val one = StructType(Seq(StructField("id", IntegerType)))
    val byName = spark.read.format("excel").schema(one)
      .option("sheetName", "Other").load(f.getAbsolutePath)
    assert(byName.collect().head.getInt(0) == 2)
    val byIdx = spark.read.format("excel").schema(one)
      .option("sheetName", "0").load(f.getAbsolutePath)
    assert(byIdx.collect().head.getInt(0) == 1)
  }

  test("header=false → positional columns named 0,1") {
    val dir = tmpDir()
    val f = sampleFile(dir, "nohead.xlsx", Seq(1 -> "Alice"), header = false)
    val df = spark.read.format("excel")
      .option("header", "false").load(f.getAbsolutePath)
    assert(df.columns.toSeq == Seq("0", "1"))
    assert(df.collect().head.getInt(0) == 1)
  }

  test("header=false + column pruning reads the right file columns") {
    // regression: after select(), positions must map through the FULL
    // schema, not the pruned one (the second column is still file col 1)
    val dir = tmpDir()
    val f = sampleFile(dir, "noheadprune.xlsx",
      Seq(1 -> "Alice", 2 -> "Bob"), header = false)
    val df = spark.read.format("excel")
      .option("header", "false").load(f.getAbsolutePath)
      .select("1") // prune to the second (string) column only
    assert(df.collect().map(_.getString(0)).toSet == Set("Alice", "Bob"))
    // and a pushed filter on the pruned read evaluates the right cells
    val df2 = spark.read.format("excel")
      .option("header", "false").load(f.getAbsolutePath)
      .filter(col("1") === "Bob").select("1")
    assert(df2.collect().map(_.getString(0)).toSeq == Seq("Bob"))
  }

  test("column pruning reaches the scan") {
    val dir = tmpDir()
    sampleFile(dir, "prune.xlsx", Seq(1 -> "Alice", 2 -> "Bob"))
    val df = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath).select("name")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("columns=[name]"), s"plan was:\n$plan")
    assert(df.collect().map(_.getString(0)).toSet == Set("Alice", "Bob"))
  }

  test("enableArrow=true: same rows, row plan, all pushdowns apply") {
    val dir = tmpDir()
    val f1 = sampleFile(dir, "col1.xlsx", Seq(1 -> "Alice", 2 -> "Bob"))
    sampleFile(dir, "col2.xlsx", Seq(3 -> "Carol"))
    def read(path: String) = spark.read.format("excel").schema(idName)
      .option("enableArrow", "true").load(path)
    val rowDf = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath)
    val arrowDf = read(dir.getAbsolutePath)
    val plan = arrowDf.queryExecution.executedPlan.toString
    assert(!plan.contains("ColumnarToRow"), s"columnar path planned:\n$plan")
    assert(arrowDf.collect().map(r => (r.getInt(0), r.getString(1))).toSet ==
      rowDf.collect().map(r => (r.getInt(0), r.getString(1))).toSet)
    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    val topN = arrowDf.orderBy("id").limit(1)
    assert(planOf(topN).contains("PushedTopN=[id ASC"), planOf(topN))
    assert(topN.collect().map(_.getInt(0)).toSeq == Seq(1))
    val page = read(f1.getAbsolutePath).offset(1)
    assert(planOf(page).contains("PushedOffset=1"), planOf(page))
    assert(page.collect().map(_.getInt(0)).toSeq == Seq(2))
    val sampled = arrowDf.sample(withReplacement = false, 0.5, 11L)
    assert(planOf(sampled).contains("PushedSample=[0.0,0.5,seed=11]"),
      planOf(sampled))
  }

  test("enableArrow=true round-trips all six types") {
    val dir = tmpDir()
    val out = new File(dir, "coltypes.xlsx").getAbsolutePath
    import spark.implicits._
    val df = Seq((1, 2L, 1.5, true,
      java.sql.Date.valueOf("2021-07-04"),
      java.sql.Timestamp.valueOf("2022-03-04 05:06:07")))
      .toDF("i", "l", "d", "b", "dt", "ts")
    df.coalesce(1).write.format("excel").mode("overwrite").save(out)
    val schema = StructType(Seq(
      StructField("i", IntegerType), StructField("l", LongType),
      StructField("d", DoubleType), StructField("b", BooleanType),
      StructField("dt", DateType), StructField("ts", TimestampType)))
    val back = spark.read.format("excel").schema(schema)
      .option("enableArrow", "true").load(out).collect().head
    assert(back.getInt(0) == 1 && back.getLong(1) == 2L)
    assert(back.getDouble(2) == 1.5 && back.getBoolean(3))
    assert(back.getDate(4) == java.sql.Date.valueOf("2021-07-04"))
    assert(back.getTimestamp(5) == java.sql.Timestamp.valueOf("2022-03-04 05:06:07"))
  }

  test("inferSampleFiles>1 merges and widens schemas across files") {
    val dir = tmpDir()
    // file 1: id int, name string; file 2: id has fractional → double, extra col
    val f1 = new File(dir, "a.xlsx")
    val w1 = new XlsxWriter(new FileOutputStream(f1))
    w1.writeRow(Seq("id", "name")); w1.writeRow(Seq(1L, "x")); w1.close()
    val f2 = new File(dir, "b.xlsx")
    val w2 = new XlsxWriter(new FileOutputStream(f2))
    w2.writeRow(Seq("id", "name", "score"))
    w2.writeRow(Seq(2.5, "y", 7L)); w2.close()

    val one = spark.read.format("excel")
      .option("inferSampleFiles", "1").load(dir.getAbsolutePath)
    assert(one.schema("id").dataType == IntegerType) // first file only

    val merged = spark.read.format("excel")
      .option("inferSampleFiles", "2")
      .option("allowMissingColumns", "true").load(dir.getAbsolutePath)
    assert(merged.schema("id").dataType == DoubleType) // Int ⊕ Double widened
    assert(merged.schema.fieldNames.toSeq == Seq("id", "name", "score"))
    // rows from the file lacking `score` read as null there
    val rows = merged.orderBy("id").collect()
    assert(rows(0).isNullAt(2) && rows(1).getInt(2) == 7)
  }

  test("limit pushdown stops per-partition row decode early") {
    val dir = tmpDir()
    sampleFile(dir, "lim.xlsx", (1 to 500).map(i => i -> s"n$i"))
    val df = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath).limit(3)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("limit=3"), s"limit not pushed into scan:\n$plan")
    assert(df.collect().length == 3)
  }

  test("codec throughput: ≥50k rows/sec single-threaded read") {
    val dir = tmpDir()
    val f = new File(dir, "big.xlsx")
    val w = new XlsxWriter(new FileOutputStream(f))
    w.writeRow(Seq("id", "name", "score"))
    (1 to 100000).foreach(i => w.writeRow(Seq(i.toLong, s"name_$i", i * 1.5)))
    w.close()
    val r = new XlsxReader(f)
    val t0 = System.nanoTime()
    val n = r.rowIterator(r.sheets.head).length
    val secs = (System.nanoTime() - t0) / 1e9
    r.close()
    assert(n == 100001)
    val rate = n / secs
    info(f"xlsx read rate: $rate%.0f rows/sec")
    assert(rate > 50000, f"codec too slow: $rate%.0f rows/sec")
  }

  test("filter pushdown reaches the scan and skips rows before Spark") {
    val dir = tmpDir()
    sampleFile(dir, "filt.xlsx", (1 to 100).map(i => i -> s"name_$i"))
    val df = spark.read.format("excel").schema(idName)
      .load(dir.getAbsolutePath)
      .filter(col("id") > 90 && col("name").startsWith("name_9"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters=["), s"no pushed filters in:\n$plan")
    assert(plan.contains("GreaterThan(id,90)"), plan)
    assert(df.collect().map(_.getInt(0)).sorted.toSeq == (91 to 99)) // name_100 !~ name_9*
    // filters on date/timestamp/boolean types evaluate in-scan too
    val out = new File(dir, "typed.xlsx").getAbsolutePath
    import spark.implicits._
    Seq((java.sql.Date.valueOf("2024-01-01"), true),
      (java.sql.Date.valueOf("2025-06-01"), false))
      .toDF("d", "b").coalesce(1)
      .write.format("excel").mode("overwrite").save(out)
    val typed = StructType(Seq(StructField("d", DateType), StructField("b", BooleanType)))
    val got = spark.read.format("excel").schema(typed).load(out)
      .filter(col("d") > java.sql.Date.valueOf("2024-12-31") && !col("b"))
      .collect()
    assert(got.length == 1 && got.head.getDate(0) == java.sql.Date.valueOf("2025-06-01"))
  }

  test("append to an existing workbook fails clearly (xlsx is not appendable)") {
    val dir = tmpDir()
    val out = new File(dir, "app.xlsx").getAbsolutePath
    import spark.implicits._
    val df = Seq((1, "x")).toDF("id", "name")
    df.write.format("excel").mode("append").save(out) // no file yet → creates
    val e = intercept[Exception](
      df.write.format("excel").mode("append").save(out))
    assert(msgs(e).exists(m => m.contains("already exists") || m.contains("PATH_ALREADY_EXISTS")),
      e.toString)
  }

  test("corrupt file: read error names the file; inference wraps as AnalysisException") {
    val dir = tmpDir()
    val f = new File(dir, "garbage.xlsx")
    java.nio.file.Files.write(f.toPath, "this is not a zip".getBytes)
    // every read path that opens the workbook → an error naming the file:
    // row scan, count pushdown, split planning, enableArrow=true
    def read(opts: (String, String)*) = spark.read.format("excel")
      .schema(idName).options(opts.toMap).load(f.getAbsolutePath)
    val reads: Seq[(String, () => Any)] = Seq(
      "scan" -> (() => read().collect()),
      "count" -> (() => read().count()),
      "split" -> (() => read("maxRowsPerPartition" -> "10").collect()),
      "enableArrow" -> (() => read("enableArrow" -> "true").collect()))
    reads.foreach { case (what, run) =>
      val e = intercept[Exception](run())
      assert(msgs(e).exists(_.contains("garbage.xlsx")), s"$what: $e")
    }
    // inference path → AnalysisException (reference error normalization)
    intercept[AnalysisException](
      spark.read.format("excel").load(f.getAbsolutePath))
  }

  test("missing path → AnalysisException") {
    intercept[AnalysisException] {
      spark.read.format("excel").load("/no/such/dir/anywhere")
    }
  }
}
