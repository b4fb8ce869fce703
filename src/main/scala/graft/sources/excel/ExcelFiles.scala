package graft.sources.excel

import java.io.File

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

import org.apache.spark.SparkException
import org.apache.spark.sql.AnalysisException

/** File listing + local-access helpers on the Hadoop FileSystem API.
  *
  * The reference lists with `os.listdir` (local FS only, non-recursive,
  * case-insensitive `.xlsx` suffix — `/root/reference/src/pyspark_datasource/
  * excel/connector.py:148-156`, bug B6 in SURVEY.md). Going through Hadoop
  * FS keeps those listing semantics but gains HDFS/S3/abfs support, which a
  * 1000-executor deployment needs.
  */
object ExcelFiles {

  /** Listing admits `.xlsx` (the reference's surface) plus `.xlsm` —
    * macro-enabled workbooks are the same OOXML zip (identical
    * worksheet parts under `xl/worksheets`, plus a vbaProject part the
    * reader never opens), so the StAX codec reads them unchanged. Legacy
    * binary `.xls` (BIFF, not a zip) stays excluded, matching the
    * reference's B6 listing. `xlsxOnly` (the `xlsxOnly` option) drops
    * the `.xlsm` superset for strict parity with the reference's
    * case-insensitive `.xlsx`-only filter (connector.py:148-156). */
  private def hasExcelSuffix(name: String, xlsxOnly: Boolean): Boolean = {
    val n = name.toLowerCase
    n.endsWith(".xlsx") || (!xlsxOnly && n.endsWith(".xlsm"))
  }

  /** One listed workbook: URI plus the mtime/size its `FileStatus`
    * already carried (no extra RPCs beyond the listing itself). */
  case class Entry(uri: String, mtimeMs: Long, sizeBytes: Long)

  /** The canonical listing every surface derives from: path → name-sorted
    * entries (dir: one level by default, excel suffixes only; file:
    * itself; glob pattern: every match, dirs expanded). `recursive=true`
    * (the `recursiveFileLookup` option) descends into subdirectories —
    * the date-partitioned `dt=.../part.xlsx` layout object stores use.
    * Missing path → AnalysisException like the reference's error
    * normalization. */
  def listEntries(pathStr: String, conf: Configuration,
      recursive: Boolean = false, xlsxOnly: Boolean = false): Seq[Entry] = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    def entry(s: org.apache.hadoop.fs.FileStatus) =
      Entry(s.getPath.toString, s.getModificationTime, s.getLen)
    if (hasGlob(pathStr)) {
      val matches = Option(fs.globStatus(path)).map(_.toSeq).getOrElse(Seq.empty)
      if (matches.isEmpty) {
        throw new AnalysisException(
          errorClass = "PATH_NOT_FOUND",
          messageParameters = Map("path" -> pathStr))
      }
      return matches.flatMap { s =>
        if (s.isDirectory) listDirEntries(fs, s.getPath, recursive, xlsxOnly)
        else Seq(entry(s))
      }.distinctBy(_.uri).sortBy(_.uri)
    }
    if (!fs.exists(path)) {
      throw new AnalysisException(
        errorClass = "PATH_NOT_FOUND",
        messageParameters = Map("path" -> pathStr))
    }
    val status = fs.getFileStatus(path)
    if (status.isDirectory) listDirEntries(fs, path, recursive, xlsxOnly)
    // a DIRECT file path keeps the caller's own spelling (`path.toString`,
    // not the FileStatus's qualified file:/ URI): `_file_path` values and
    // streaming-offset seen-sets must stay byte-identical to what pre-r14
    // listings produced, or old checkpoints would re-read the file
    else Seq(Entry(path.toString, status.getModificationTime, status.getLen))
  }

  /** path → sorted list of xlsx file URIs (see [[listEntries]]). */
  def list(pathStr: String, conf: Configuration, recursive: Boolean = false,
      xlsxOnly: Boolean = false): Seq[String] =
    listEntries(pathStr, conf, recursive, xlsxOnly).map(_.uri)

  /** Total on-disk bytes of the files [[list]] would plan. Feeds the
    * scan's [[org.apache.spark.sql.connector.read.SupportsReportStatistics]]
    * estimate so Catalyst can size excel relations for join planning.
    * Swallows nothing: a missing path throws exactly like [[list]]. */
  def totalBytes(pathStr: String, conf: Configuration,
      recursive: Boolean = false, xlsxOnly: Boolean = false): Long =
    listEntries(pathStr, conf, recursive, xlsxOnly).map(_.sizeBytes).sum

  /** Like [[list]] but returning (uri, modificationTimeMs) pairs — the
    * streaming source's retention compaction needs mtimes to expire old
    * entries from its offset. Same visibility/suffix/recursion semantics. */
  def listWithTimes(pathStr: String, conf: Configuration,
      recursive: Boolean = false, xlsxOnly: Boolean = false): Seq[(String, Long)] =
    listEntries(pathStr, conf, recursive, xlsxOnly)
      .map(e => e.uri -> e.mtimeMs)

  private def hasGlob(p: String): Boolean =
    p.exists(c => c == '*' || c == '?' || c == '[' || c == '{')

  private def listDirEntries(fs: FileSystem, dir: Path, recursive: Boolean,
      xlsxOnly: Boolean): Seq[Entry] = {
    val (dirs, files) = fs.listStatus(dir).toSeq.partition(_.isDirectory)
    // skip hidden/temp files AND directories (Spark file-source convention)
    // so readers never admit a half-written sink temp into an offset
    def visible(n: String) = !n.startsWith(".") && !n.startsWith("_")
    val here = files
      .filter { s =>
        val n = s.getPath.getName
        hasExcelSuffix(n, xlsxOnly) && visible(n)
      }
      .map(s => Entry(s.getPath.toString, s.getModificationTime, s.getLen))
    val below =
      if (!recursive) Seq.empty
      else dirs.filter(d => visible(d.getPath.getName))
        .flatMap(d => listDirEntries(fs, d.getPath, recursive = true, xlsxOnly))
    (here ++ below).sortBy(_.uri)
  }

  /** An open workbook: the reader plus the local file it reads. `close`
    * closes the reader, then deletes the local file when it is a staged
    * copy of a remote object. */
  final class Workbook private[ExcelFiles] (val reader: XlsxReader,
      local: File, staged: Boolean) extends java.io.Closeable {
    override def close(): Unit =
      try reader.close() finally if (staged) local.delete()
  }

  /** Open an xlsx for random access. ZIP needs a seekable local file, so a
    * remote (hdfs/s3) object is staged to a local temp file first — bounded
    * by the format's own ~1M-row ceiling, and per-task, so it scales with
    * the cluster. A workbook that fails to open (corrupt, not a zip) has
    * its staged copy deleted and surfaces as a `SparkException` naming
    * `pathStr` (the reference wraps all read failures,
    * connector.py:202-203). The caller owns the returned [[Workbook]]. */
  def open(pathStr: String, conf: Configuration): Workbook = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val (local, staged) = fs.getScheme match {
      case "file" => (new File(path.toUri.getPath), false)
      case _ =>
        val tmp = File.createTempFile("graft-excel-stage", ".xlsx")
        try fs.copyToLocalFile(false, path, new Path(tmp.getAbsolutePath), true)
        catch { case e: Throwable => tmp.delete(); throw e }
        (tmp, true)
    }
    try new Workbook(new XlsxReader(local), local, staged)
    catch {
      case e: Exception =>
        if (staged) local.delete()
        throw new SparkException(
          s"Failed to open excel file $pathStr: ${e.getMessage}", e)
    }
  }

  /** [[open]] `pathStr`, run `body` on its reader, and always close the
    * workbook (reader closed, staged copy deleted). */
  def withReader[T](pathStr: String, conf: Configuration)(
      body: XlsxReader => T): T = {
    val wb = open(pathStr, conf)
    try body(wb.reader) finally wb.close()
  }
}
