package graft.sources.excel

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The reference's complete option surface (`/root/reference/src/
  * pyspark_datasource/excel/connector.py:71-76,144,183,307-311`):
  * `path` (required), `sheetName` (read default: sheet index "0"; write
  * default "Sheet1"), `header` (default true), `inferSchema` (default true),
  * `enableArrow` (accepted for reference compatibility and has no effect:
  * the reference's Arrow branch avoids per-row pickling on a Python→JVM
  * hop this in-JVM scan does not have, so every read takes the one row
  * path and every scan pushdown applies).
  *
  * Extensions (documented deviations): `inferSampleRows` bounds the schema-
  * inference scan (the reference probes pandas with `nrows=0`), and options
  * are case-insensitive per the DSv2 norm (the reference's dict is
  * case-sensitive).
  *
  * Kept as a plain lowercase-keyed Map so it serializes to executors.
  */
final case class ExcelOptions(options: Map[String, String]) {

  private def get(key: String): Option[String] = options.get(key.toLowerCase)

  def path: String = get("path").getOrElse(
    throw new IllegalArgumentException(
      "Option 'path' is required for the excel data source"))

  def pathOpt: Option[String] = get("path")

  /** Sheet name or 0-based index; reference read default is index 0. */
  def sheetName: String = get("sheetname").getOrElse("0")

  /** sheetName="*" (extension): read EVERY sheet of each workbook,
    * unioned under the merged schema, with a synthesized `_sheet` string
    * column appended (a real file column named `_sheet` is shadowed). */
  def allSheets: Boolean = get("sheetname").contains("*")

  /** Write-side sheet name; reference default "Sheet1". */
  def writeSheetName: String = get("sheetname").getOrElse("Sheet1")

  def header: Boolean = get("header").forall(_.toBoolean)

  def inferSchema: Boolean = get("inferschema").forall(_.toBoolean)

  /** Rows sampled per file for schema inference (extension). */
  def inferSampleRows: Int = get("infersamplerows").map(_.toInt).getOrElse(100)

  /** Max files to probe when inferring over a directory (extension). */
  def inferSampleFiles: Int = get("infersamplefiles").map(_.toInt).getOrElse(1)

  /** Streaming admission control: max new files admitted per micro-batch
    * (extension; unset = all available; must be positive, matching
    * FileStreamSource's validation). */
  def maxFilesPerTrigger: Option[Int] = get("maxfilespertrigger").map { s =>
    val n = s.toInt
    require(n > 0, s"maxFilesPerTrigger must be positive, got $n")
    n
  }

  /** Streaming admission control by VOLUME: max cumulative on-disk bytes
    * of new files admitted per micro-batch (extension, the knob
    * FileStreamSource spells `maxBytesPerTrigger`) — the right bound when
    * file sizes vary wildly (one 500 MB workbook should not ride in a
    * batch sized for fifty 1 MB ones). At least one file is always
    * admitted so an oversized file can't wedge the stream. Composes with
    * `maxFilesPerTrigger`: both bounds apply. */
  def maxBytesPerTrigger: Option[Long] = get("maxbytespertrigger").map { s =>
    val n = s.toLong
    require(n > 0, s"maxBytesPerTrigger must be positive, got $n")
    n
  }

  /** STRICT reference parity for listings: admit `.xlsx` only, erroring
    * out the `.xlsm` superset this connector otherwise accepts (the
    * reference's case-insensitive `.xlsx` suffix filter,
    * connector.py:148-156 / SURVEY B6). Default false = superset. */
  def xlsxOnly: Boolean = get("xlsxonly").exists(_.toBoolean)

  /** Write-side extension: `path` is a DIRECTORY and every task writes its
    * own `part-NNNNN.xlsx` shard in parallel (atomic per-file renames at
    * commit) instead of the driver merging one workbook — the scale-out
    * write mode. The reader's directory contract consumes the output
    * as-is. Default false = the reference's single-file contract. */
  def shardedOutput: Boolean = get("shardedoutput").exists(_.toBoolean)

  /** Descend into subdirectories when listing (extension; named after
    * Spark's file-source option; default false = the reference's one-level
    * contract). Hidden (dot/underscore) directories are never entered. */
  def recursiveFileLookup: Boolean =
    get("recursivefilelookup").exists(_.toBoolean)

  /** Row-range split size for parallel single-file reads (extension;
    * unset = the reference's 1-file-1-partition contract). When set, a
    * file's sheet is split into partitions of at most this many data rows
    * — planning probes each file's last row number (its `<dimension>`
    * header when present, a tag scan otherwise), so use it for directories
    * of few large workbooks, not thousands of small ones. */
  def maxRowsPerPartition: Option[Int] = get("maxrowsperpartition").map { s =>
    val n = s.toInt
    require(n > 0, s"maxRowsPerPartition must be positive, got $n")
    n
  }

  /** Upper bound on row-range splits per (file, sheet) — xlsx has no
    * random access inside the deflate stream, so split P must re-parse
    * rows 1..start: P splits of one file cost O(P²·rows) parse work. The
    * cap keeps that quadratic bounded; when a sheet would exceed it,
    * rows-per-split grows instead (maxRowsPerPartition is best-effort
    * above the cap). Default 64 ≈ ≤32× re-parse amplification. */
  def maxSplitsPerFile: Int = get("maxsplitsperfile").map { s =>
    val n = s.toInt
    require(n > 0, s"maxSplitsPerFile must be positive, got $n")
    n
  }.getOrElse(64)

  /** Write-side extension: route each row to a sheet named by this STRING
    * column's value — the workbook analogue of `partitionBy`. The routing
    * column is dropped from the written rows (like partitionBy's directory
    * encoding); a `sheetName="*"` read restores it as `_sheet`, so
    * route-by-column writes round-trip. Merged single-workbook mode only
    * (a sharded shard is one streamed sheet). */
  def sheetColumn: Option[String] = get("sheetcolumn")

  /** Cap on concurrently OPEN per-task sheet writers in [[sheetColumn]]
    * routing (extension). Each open writer holds a zip stream + buffers,
    * so unbounded distinct routing values per task would exhaust memory /
    * file handles; past the cap the least-recently-used writer is closed
    * (its rows are complete — xlsx streams forward-only) and a value that
    * reappears simply opens a fresh temp segment, concatenated in order at
    * the driver merge. Default 32. */
  def maxOpenSheetWriters: Int = get("maxopensheetwriters").map { s =>
    val n = s.toInt
    require(n > 0, s"maxOpenSheetWriters must be positive, got $n")
    n
  }.getOrElse(32)

  /** Write-side style extension: render the header row bold (default
    * false = the reference's plain output). */
  def headerBold: Boolean = get("headerbold").exists(_.toBoolean)

  /** Write-side style extension: per-column widths in characters, e.g.
    * `"id=8,name=32"` (field name = width). Unlisted columns keep Excel's
    * default width; unknown names are rejected at write planning. */
  def columnWidths: Map[String, Double] =
    get("columnwidths").map { s =>
      s.split(",").filter(_.nonEmpty).map { kv =>
        val eq = kv.lastIndexOf('=')
        require(eq > 0 && eq < kv.length - 1,
          s"columnWidths entry '$kv' is not name=width")
        val w = kv.substring(eq + 1).trim.toDouble
        require(w > 0, s"columnWidths width must be positive in '$kv'")
        kv.substring(0, eq).trim -> w
      }.toMap
    }.getOrElse(Map.empty)

  /** [[columnWidths]] resolved against a write schema's field order →
    * (0-based column index, width) for [[XlsxWriter]]. Names already
    * validated by the write builder. */
  def widthsFor(fieldNames: Seq[String]): Seq[(Int, Double)] =
    columnWidths.toSeq.flatMap { case (n, w) =>
      val i = fieldNames.indexOf(n)
      if (i < 0) None else Some(i -> w)
    }.sortBy(_._1)

  /** Streaming offset compaction (extension): files whose modification
    * time is older than (max mtime seen − maxFileAgeMs) are dropped from
    * the offset's seen-set AND ignored if newly listed — bounding offset
    * size by the retention window instead of the directory's lifetime file
    * count. The standard windowed-ingestion trade (Spark's own
    * FileStreamSource `maxFileAge` makes the same one): a file landing
    * with an mtime older than the window is never read. Unset = exact
    * offsets, no expiry. */
  def maxFileAgeMs: Option[Long] = get("maxfileagems").map { s =>
    val n = s.toLong
    require(n > 0, s"maxFileAgeMs must be positive, got $n")
    n
  }

  /** Decompressed-size multiplier for the scan's reported statistics
    * (extension). xlsx is zip-compressed sheetML: the row data Spark
    * materializes is typically 5–15× the on-disk bytes, and
    * UNDER-estimating is the dangerous direction (a "small" relation gets
    * broadcast and OOMs executors at scale), so the default is a
    * conservative 8. Set to 1 to report raw listed bytes. */
  def statsSizeFactor: Double = get("statssizefactor").map { s =>
    val f = s.toDouble
    require(f > 0, s"statsSizeFactor must be positive, got $f")
    f
  }.getOrElse(8.0)

  /** When true, a schema column absent from a file reads as nulls instead
    * of erroring (extension — needed for merged multi-file schemas; default
    * false keeps the reference's strict contract, tests/
    * test_excel_connector.py:93-112). */
  def allowMissingColumns: Boolean =
    get("allowmissingcolumns").exists(_.toBoolean)
}

object ExcelOptions {
  def apply(map: CaseInsensitiveStringMap): ExcelOptions =
    new ExcelOptions(map.asCaseSensitiveMap().asScala.toMap.map {
      case (k, v) => k.toLowerCase -> v
    })

  def fromMap(map: Map[String, String]): ExcelOptions =
    new ExcelOptions(map.map { case (k, v) => k.toLowerCase -> v })
}
