package perfbench

import java.io.{BufferedOutputStream, File, FileOutputStream, OutputStream}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import java.util.SplittableRandom
import java.util.zip.{CRC32, ZipEntry, ZipOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.excel.XlsxWriter

/** Lineitem-shaped rows of the seven types the excel sink accepts, and the
  * checksums the benchmark compares read results against. */
object Lineitem {

  val schema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType),
    StructField("l_linenumber", IntegerType),
    StructField("l_quantity", IntegerType),
    StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType),
    StructField("l_returnflag", StringType),
    StructField("l_shipmode", StringType),
    StructField("l_shipdate", DateType),
    StructField("l_receipt_ts", TimestampType),
    StructField("l_is_late", BooleanType),
    StructField("l_comment", StringType)))

  val names: Seq[String] = schema.fieldNames.toSeq

  private val flags = Array("A", "N", "R")
  private val modes = Array("AIR", "FOB", "MAIL", "RAIL", "REG AIR", "SHIP", "TRUCK")
  private val words = Array("carefully", "final", "deposits", "furiously",
    "ironic", "packages", "quickly", "regular", "accounts", "blithely",
    "express", "pending", "requests", "slyly", "special", "theodolites",
    "unusual", "even", "bold", "silent", "foxes", "pinto", "beans", "among")

  /** Orderkeys start above the int range, so inference has to pick long. */
  private val KeyBase = 3000000000L

  /** Row `i` of a stream seeded by `seed`. With `sparse`, a fifth of the
    * cells (never the key) are empty. */
  def row(rnd: SplittableRandom, i: Long, sparse: Boolean): Array[Any] = {
    def cell(v: => Any): Any = if (sparse && rnd.nextInt(5) == 0) null else v
    Array[Any](
      java.lang.Long.valueOf(KeyBase + i),
      cell(Integer.valueOf(1 + rnd.nextInt(7))),
      cell(Integer.valueOf(1 + rnd.nextInt(50))),
      cell(java.lang.Double.valueOf((100 + rnd.nextInt(10000000)) / 100.0)),
      cell(java.lang.Double.valueOf(rnd.nextInt(11) / 100.0)),
      cell(flags(rnd.nextInt(flags.length))),
      cell(modes(rnd.nextInt(modes.length))),
      cell(LocalDate.ofEpochDay(8000 + rnd.nextInt(2500))),
      cell(LocalDateTime.ofEpochSecond(700000000L + rnd.nextInt(200000000),
        0, ZoneOffset.UTC)),
      cell(java.lang.Boolean.valueOf(rnd.nextBoolean())),
      cell(Iterator.fill(2 + rnd.nextInt(5))(words(rnd.nextInt(words.length)))
        .mkString(" ") + " " + rnd.nextInt(100000)))
  }

  def crc(s: String): Long = { val c = new CRC32; c.update(s.getBytes(UTF_8)); c.getValue }
  def cents(d: Any): Long = math.round(d.asInstanceOf[java.lang.Double] * 100)

  /** Per-column sums; the Spark side computes the same numbers with
    * [[checksumColumns]]. `pruned*` cover the rows with discount >= 0.08;
    * `byFlag` maps each return flag (null included) to (rows, Σquantity). */
  final class Checksum {
    val sums = new Array[Long](12)
    var prunedRows, prunedKeys, prunedPrice = 0L
    val byFlag = mutable.Map.empty[String, (Long, Long)]

    def add(r: Array[Any]): Unit = {
      sums(0) += 1
      def num(i: Int, v: Any => Long): Unit = if (r(i) != null) sums(i + 1) += v(r(i))
      num(0, _.asInstanceOf[java.lang.Long].longValue)
      num(1, _.asInstanceOf[Integer].longValue)
      num(2, _.asInstanceOf[Integer].longValue)
      num(3, cents)
      num(4, cents)
      num(5, v => crc(v.asInstanceOf[String]))
      num(6, v => crc(v.asInstanceOf[String]))
      num(7, _.asInstanceOf[LocalDate].toEpochDay)
      num(8, _.asInstanceOf[LocalDateTime].toEpochSecond(ZoneOffset.UTC))
      num(9, v => if (v.asInstanceOf[java.lang.Boolean]) 1L else 0L)
      num(10, v => crc(v.asInstanceOf[String]))
      if (r(4) != null && cents(r(4)) >= 8) {
        prunedRows += 1
        prunedKeys += r(0).asInstanceOf[java.lang.Long]
        if (r(3) != null) prunedPrice += cents(r(3))
      }
      val f = r(5).asInstanceOf[String]
      val (n, q) = byFlag.getOrElse(f, (0L, 0L))
      byFlag(f) = (n + 1,
        q + (if (r(2) == null) 0L else r(2).asInstanceOf[Integer].longValue))
    }

    def merge(o: Checksum): Unit = {
      for (i <- sums.indices) sums(i) += o.sums(i)
      prunedRows += o.prunedRows; prunedKeys += o.prunedKeys
      prunedPrice += o.prunedPrice
      o.byFlag.foreach { case (f, (n, q)) =>
        val (a, b) = byFlag.getOrElse(f, (0L, 0L))
        byFlag(f) = (a + n, b + q)
      }
    }

    def matches(row: Row): Boolean = sums.indices.forall(i => row.getLong(i) == sums(i))
  }

  /** count(*) and one exact long sum per column, in column order. */
  val checksumColumns: Seq[Column] = {
    def s(c: Column) = coalesce(sum(c), lit(0L))
    def cents(n: String) = round(col(n) * 100).cast("long")
    def crc(n: String) = crc32(col(n).cast("binary"))
    Seq(count(lit(1)),
      s(col("l_orderkey")), s(col("l_linenumber").cast("long")),
      s(col("l_quantity").cast("long")), s(cents("l_extendedprice")),
      s(cents("l_discount")), s(crc("l_returnflag")), s(crc("l_shipmode")),
      s(unix_date(col("l_shipdate")).cast("long")),
      s(unix_seconds(col("l_receipt_ts"))),
      s(col("l_is_late").cast("long")), s(crc("l_comment")))
  }
}

/** Writes a worksheet the way Excel and openpyxl do: every string goes to
  * one shared-string table, and the sheet carries a `<dimension>` header.
  * The benchmark's stand-in for workbooks written by Excel itself. */
object SharedStringsBook {

  def write(file: File, header: Seq[String], rows: Seq[Array[Any]]): Unit = {
    val sst = mutable.LinkedHashMap.empty[String, Int]
    def sIdx(s: String): Int = sst.getOrElseUpdate(s, sst.size)
    val zip = new ZipOutputStream(new BufferedOutputStream(new FileOutputStream(file), 1 << 16))
    try {
      def part(name: String, body: String): Unit = {
        zip.putNextEntry(new ZipEntry(name))
        zip.write(body.getBytes(UTF_8))
        zip.closeEntry()
      }
      val lastCol = colName(header.length - 1)
      zip.putNextEntry(new ZipEntry("xl/worksheets/sheet1.xml"))
      val sb = new java.lang.StringBuilder(1 << 16)
      def flush(): Unit = { zip.write(sb.toString.getBytes(UTF_8)); sb.setLength(0) }
      sb.append(Xml.Decl).append("""<worksheet xmlns="""")
        .append(Xml.Main).append(""""><dimension ref="A1:""").append(lastCol)
        .append(rows.length + 1).append("\"/><sheetData>")
      def rowXml(rn: Int, cells: Seq[Any]): Unit = {
        sb.append("<row r=\"").append(rn).append("\">")
        cells.zipWithIndex.foreach {
          case (null, _) => ()
          case (v, c) =>
            sb.append("<c r=\"").append(colName(c)).append(rn).append('"')
            v match {
              case s: String => sb.append(" t=\"s\"><v>").append(sIdx(s))
              case b: java.lang.Boolean => sb.append(" t=\"b\"><v>").append(if (b) 1 else 0)
              case d: LocalDate => sb.append(" s=\"1\"><v>").append(d.toEpochDay + 25569)
              case t: LocalDateTime =>
                val secs = t.toEpochSecond(ZoneOffset.UTC)
                sb.append(" s=\"2\"><v>").append(java.lang.Double.toString(
                  Math.floorDiv(secs, 86400L) + 25569 + Math.floorMod(secs, 86400L) / 86400.0))
              case d: java.lang.Double => sb.append("><v>").append(
                if (d == math.floor(d)) d.longValue.toString else d.toString)
              case n: java.lang.Number => sb.append("><v>").append(n.toString)
            }
            sb.append("</v></c>")
        }
        sb.append("</row>")
        if (sb.length > (1 << 16)) flush()
      }
      rowXml(1, header)
      rows.iterator.zipWithIndex.foreach { case (r, i) => rowXml(i + 2, r.toSeq) }
      sb.append("</sheetData></worksheet>")
      flush()
      zip.closeEntry()
      val si = new java.lang.StringBuilder
      si.append(Xml.Decl).append("""<sst xmlns="""").append(Xml.Main)
        .append("\" count=\"").append(sst.size).append("\" uniqueCount=\"")
        .append(sst.size).append("\">")
      sst.keysIterator.foreach(s => si.append("<si><t>").append(Xml.escape(s)).append("</t></si>"))
      si.append("</sst>")
      part("xl/sharedStrings.xml", si.toString)
      part("xl/styles.xml", Xml.Styles)
      part("[Content_Types].xml", Xml.ContentTypes)
      part("_rels/.rels", Xml.RootRels)
      part("xl/workbook.xml", Xml.Workbook)
      part("xl/_rels/workbook.xml.rels", Xml.WorkbookRels)
    } finally zip.close()
  }

  private def colName(idx: Int): String = {
    val sb = new StringBuilder
    var i = idx + 1
    while (i > 0) { sb.insert(0, ('A' + (i - 1) % 26).toChar); i = (i - 1) / 26 }
    sb.toString
  }

  private object Xml {
    val Decl = """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>"""
    val Main = "http://schemas.openxmlformats.org/spreadsheetml/2006/main"
    private val Rel = "http://schemas.openxmlformats.org/officeDocument/2006/relationships"
    private val PkgRel = "http://schemas.openxmlformats.org/package/2006/relationships"
    private val Ct = "application/vnd.openxmlformats-officedocument.spreadsheetml"
    def escape(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val Styles: String = Decl + s"""<styleSheet xmlns="$Main">""" +
      """<fonts count="1"><font><sz val="11"/><name val="Calibri"/></font></fonts>""" +
      """<fills count="1"><fill><patternFill patternType="none"/></fill></fills>""" +
      """<borders count="1"><border/></borders>""" +
      """<cellStyleXfs count="1"><xf numFmtId="0" fontId="0" fillId="0" borderId="0"/></cellStyleXfs>""" +
      """<cellXfs count="3"><xf numFmtId="0" fontId="0" fillId="0" borderId="0" xfId="0"/>""" +
      """<xf numFmtId="14" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
      """<xf numFmtId="22" fontId="0" fillId="0" borderId="0" xfId="0" applyNumberFormat="1"/>""" +
      """</cellXfs></styleSheet>"""
    val ContentTypes: String = Decl +
      """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
      s"""<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
      """<Default Extension="xml" ContentType="application/xml"/>""" +
      s"""<Override PartName="/xl/workbook.xml" ContentType="$Ct.sheet.main+xml"/>""" +
      s"""<Override PartName="/xl/worksheets/sheet1.xml" ContentType="$Ct.worksheet+xml"/>""" +
      s"""<Override PartName="/xl/sharedStrings.xml" ContentType="$Ct.sharedStrings+xml"/>""" +
      s"""<Override PartName="/xl/styles.xml" ContentType="$Ct.styles+xml"/></Types>"""
    val RootRels: String = Decl + s"""<Relationships xmlns="$PkgRel">""" +
      s"""<Relationship Id="rId1" Type="$Rel/officeDocument" Target="xl/workbook.xml"/></Relationships>"""
    val Workbook: String = Decl + s"""<workbook xmlns="$Main" xmlns:r="$Rel">""" +
      """<sheets><sheet name="Sheet1" sheetId="1" r:id="rId1"/></sheets></workbook>"""
    val WorkbookRels: String = Decl + s"""<Relationships xmlns="$PkgRel">""" +
      s"""<Relationship Id="rId1" Type="$Rel/worksheet" Target="worksheets/sheet1.xml"/>""" +
      s"""<Relationship Id="rId2" Type="$Rel/sharedStrings" Target="sharedStrings.xml"/>""" +
      s"""<Relationship Id="rId3" Type="$Rel/styles" Target="styles.xml"/></Relationships>"""
  }
}

/** Workbooks through the connector's own codec: inline strings, no
  * `<dimension>`. */
object InlineBook {
  def write(file: File, header: Seq[String], rows: Iterator[Array[Any]]): Unit =
    write(new FileOutputStream(file), header, rows)

  def write(out: OutputStream, header: Seq[String], rows: Iterator[Array[Any]]): Unit = {
    val w = new XlsxWriter(out)
    try {
      w.writeRow(header)
      rows.foreach(r => w.writeRow(r.toSeq))
    } finally w.close()
  }
}

/** Documents for the curation workload: ~300 characters of pseudo-words,
  * with planted near-copy clusters. A copy differs from its base only in
  * its last word, so any two members of a cluster share all but one of
  * their ~48 word-3-shingles: Jaccard 47/49 ≈ 0.96, above the 0.9 cut. */
object Docs {

  val schema: StructType = StructType(Seq(
    StructField("id", LongType), StructField("text", StringType)))

  final case class Corpus(docs: IndexedSeq[(Long, String)], keep: Set[Long],
      keptTokens: Long, clusters: Int)

  def generate(seed: Long, n: Int, clusterShare: Double): Corpus = {
    val rnd = new SplittableRandom(seed)
    val vocab = Array.fill(4000) {
      Iterator.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
    }
    def word() = vocab(rnd.nextInt(vocab.length))
    def text(): Array[String] = {
      val b = mutable.ArrayBuffer.empty[String]
      var len = 0
      while (len < 300) { val w = word(); b += w; len += w.length + 1 }
      b.toArray
    }
    // groups of texts; members of one group are near-copies of each other
    val groups = mutable.ArrayBuffer.empty[Seq[String]]
    var made = 0
    while (made < n) {
      val base = text()
      val size =
        if (rnd.nextDouble() < clusterShare / 4) math.min(3 + rnd.nextInt(3), n - made)
        else 1
      val lastWords = mutable.LinkedHashSet(base.last)
      while (lastWords.size < size) lastWords += word()
      groups += lastWords.toSeq.map(w => (base.init :+ w).mkString(" "))
      made += size
    }
    // ids are a seeded permutation, so cluster members are not adjacent
    val ids = (1L to n.toLong).toArray
    for (i <- ids.indices.reverse) {
      val j = rnd.nextInt(i + 1); val t = ids(i); ids(i) = ids(j); ids(j) = t
    }
    var next = 0
    val docs = mutable.ArrayBuffer.empty[(Long, String)]
    val keep = mutable.Set.empty[Long]
    var keptTokens = 0L
    groups.foreach { g =>
      val members = g.map { t => val id = ids(next); next += 1; (id, t) }
      docs ++= members
      val rep = members.minBy(_._1)
      keep += rep._1
      keptTokens += rep._2.split(" ").length
    }
    Corpus(docs.sortBy(_._1).toIndexedSeq, keep.toSet, keptTokens,
      groups.count(_.size > 1))
  }
}
