package graft.sources.excel

import java.time.{LocalDate, LocalDateTime, ZoneOffset}

import org.apache.hadoop.fs.Path

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Single-workbook batch write with a real commit protocol.
  *
  * The reference writer has none (bug B4: every task rewrites the same
  * `path`, last-writer-wins — `/root/reference/src/pyspark_datasource/excel/
  * connector.py:280-322`). Here every task streams its partition to a task
  * temp file `<path>.__graft_tmp_<queryId>/part-NNNNN.xlsx`, and the driver
  * `commit()` merges them *in partition order* into one workbook at `path`
  * — preserving the reference's observable single-file contract and its
  * round-trip test (`tests/test_excel_connector.py:189-216`) while making
  * multi-partition writes deterministic. `abort()` removes the temp dir.
  *
  * xlsx is an inherently single-file, non-appendable format — the merge is
  * a driver-side stream (constant memory) and is the format's documented
  * scale ceiling; large outputs belong in parquet, not xlsx.
  */
class ExcelWriteBuilder(schema: StructType, opts: ExcelOptions)
    extends WriteBuilder with SupportsTruncate {

  private var doTruncate = false

  override def truncate(): WriteBuilder = { this.doTruncate = true; this }

  override def build(): Write = {
    schema.fields.foreach { f =>
      f.dataType match {
        case StringType | IntegerType | LongType | DoubleType | FloatType |
            BooleanType | DateType | TimestampType => ()
        case other => throw new UnsupportedOperationException(
          s"Excel sink does not support column '${f.name}' of type $other")
      }
    }
    opts.sheetColumn.foreach { c =>
      require(schema.fieldNames.contains(c),
        s"sheetColumn '$c' is not in the write schema ${schema.fieldNames.mkString(", ")}")
      require(schema(c).dataType == StringType,
        s"sheetColumn '$c' must be StringType, got ${schema(c).dataType}")
      require(schema.fields.length > 1,
        s"sheetColumn '$c' would leave no data columns")
      if (opts.shardedOutput) throw new UnsupportedOperationException(
        "sheetColumn is not supported with shardedOutput (a shard is one streamed sheet)")
    }
    opts.columnWidths.keys.foreach { n =>
      require(schema.fieldNames.contains(n),
        s"columnWidths names column '$n' which is not in the write schema")
    }
    ExcelWrite.validateSheetName(opts.writeSheetName, "option 'sheetName'")
    // width is known at planning time — fail before any task runs (the
    // per-row guard in XlsxWriter.writeRow still backstops ragged rows)
    val dataCols = schema.fields.length - (if (opts.sheetColumn.isDefined) 1 else 0)
    if (dataCols > XlsxWriter.MaxColsPerSheet)
      throw new org.apache.spark.SparkException(
        s"Excel column limit exceeded: the write schema has $dataCols data " +
          s"columns but the xlsx format caps a sheet at " +
          s"${XlsxWriter.MaxColsPerSheet} columns (Excel refuses to open " +
          "wider sheets).")
    new ExcelWrite(schema, opts, doTruncate)
  }
}

class ExcelWrite(schema: StructType, opts: ExcelOptions, truncate: Boolean)
    extends Write with BatchWrite {

  override def toBatch: BatchWrite = this

  /** Streaming sink: `path` is a DIRECTORY; each epoch commits one
    * `batch-<epochId>.xlsx` (epoch-named → idempotent on epoch replay).
    * The reference has no streaming sink at all; this composes with the
    * directory reader so excel→transform→excel streams round-trip. */
  override def toStreaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    if (opts.sheetColumn.isDefined) throw new UnsupportedOperationException(
      "sheetColumn is not supported by the streaming excel sink")
    new ExcelStreamingWrite(schema, opts)
  }

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    if (opts.shardedOutput)
      // shards stream straight into the target directory under hidden
      // temp names (no driver merge, no second copy); each task writes
      // its own header
      ExcelDataWriterFactory(schema, opts, opts.path, conf, sharded = true)
    else ExcelDataWriterFactory(schema, opts, tmpDir, conf)
  }

  private val queryId = java.util.UUID.randomUUID().toString.take(8)
  private def tmpDir: String = s"${opts.path}.__graft_tmp_$queryId"

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    if (opts.shardedOutput) commitSharded(messages) else commitMerged(messages)

  /** Scale-out commit: rename every shard to its visible name — O(parts)
    * metadata operations, zero data movement. */
  private def commitSharded(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val dir = new Path(opts.path)
    val fs = dir.getFileSystem(conf)
    fs.mkdirs(dir)
    val existing = ExcelFiles.list(opts.path, conf)
    if (existing.nonEmpty) {
      if (truncate) existing.foreach(f => fs.delete(new Path(f), false))
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "PATH_ALREADY_EXISTS",
        messageParameters = Map("outputPath" -> opts.path))
    }
    messages.collect { case m: ExcelCommitMessage => m }.foreach { m =>
      val target = new Path(dir, f"part-${m.partitionId}%05d.xlsx")
      if (!fs.rename(new Path(m.tempPath), target))
        throw new org.apache.spark.SparkException(
          s"Excel sharded sink failed to rename ${m.tempPath} to $target")
    }
    cleanupShardTemps(fs, dir) // losers of speculative/retried attempts
  }

  /** Remove leftover hidden shard temps (failed or speculative task
    * attempts whose commit message lost). Invisible to readers either
    * way; this keeps the directory from accumulating litter. */
  private def cleanupShardTemps(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Unit =
    Option(fs.globStatus(new Path(dir, ".part-*.xlsx.inprogress")))
      .foreach(_.foreach(s => fs.delete(s.getPath, false)))

  private def commitMerged(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val target = new Path(opts.path)
    val fs = target.getFileSystem(conf)
    if (fs.exists(target)) {
      if (truncate) fs.delete(target, false)
      else throw new org.apache.spark.sql.AnalysisException(
        errorClass = "PATH_ALREADY_EXISTS",
        messageParameters = Map("outputPath" -> opts.path))
    }
    // stage under a dot-prefixed sibling and rename: a concurrent directory
    // reader never lists a half-written workbook
    val staging = new Path(target.getParent, s".${target.getName}.inprogress")
    try {
      if (opts.sheetColumn.isEmpty) {
        val parts = messages.collect { case m: ExcelCommitMessage => m }
          .sortBy(_.partitionId)
        val writer = new XlsxWriter(fs.create(staging, true), opts.writeSheetName,
          opts.widthsFor(schema.fieldNames.toIndexedSeq))
        try {
          if (opts.header) ExcelWrite.header(writer, schema.fieldNames.toIndexedSeq, opts)
          parts.foreach(m => ExcelWrite.appendTemp(writer, m.tempPath, conf))
        } finally writer.close()
      } else {
        // sheet-routed merge: one sheet per distinct routing value (sheet
        // order = sorted values — deterministic regardless of which task
        // saw a value first), each concatenating its temps in partition
        // order; data columns exclude the routing column
        val parts = messages.collect { case m: ExcelSheetCommitMessage => m }
          .sortBy(_.partitionId)
        val sheetNames = parts.flatMap(_.sheets.map(_._1)).distinct.sorted
        // Excel sheet names are case-INSENSITIVE: two routing values
        // differing only in case came from different tasks' rows and would
        // merge into a workbook Excel refuses to open (our reader would
        // still round-trip it — exactly the silent-corruption hazard).
        // Within one task the writer already rejects this at the first row.
        val caseCollisions = sheetNames
          .groupBy(_.toLowerCase(java.util.Locale.ROOT))
          .filter(_._2.size > 1)
        if (caseCollisions.nonEmpty)
          throw new org.apache.spark.SparkException(
            "sheetColumn values collide case-insensitively (Excel treats " +
              "sheet names as case-insensitive): " +
              caseCollisions.values.map(_.mkString(" / ")).mkString("; "))
        val dataNames = schema.fieldNames.filterNot(_ == opts.sheetColumn.get)
        val writer = new XlsxWriter(fs.create(staging, true),
          sheetNames.headOption.getOrElse(opts.writeSheetName),
          opts.widthsFor(dataNames.toIndexedSeq))
        try {
          if (sheetNames.isEmpty) { // empty input: keep the header contract
            if (opts.header) ExcelWrite.header(writer, dataNames.toIndexedSeq, opts)
          } else sheetNames.zipWithIndex.foreach { case (s, i) =>
            if (i > 0) writer.startSheet(s)
            if (opts.header) ExcelWrite.header(writer, dataNames.toIndexedSeq, opts)
            parts.foreach(_.sheets.collect {
              case (`s`, tempPath) => ExcelWrite.appendTemp(writer, tempPath, conf)
            })
          }
        } finally writer.close()
      }
    } finally fs.delete(new Path(tmpDir), true)
    if (!fs.rename(staging, target)) {
      fs.delete(staging, false)
      throw new org.apache.spark.SparkException(
        s"Excel sink failed to rename $staging to $target")
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    if (opts.shardedOutput) {
      val dir = new Path(opts.path)
      val fs = dir.getFileSystem(conf)
      messages.collect { case m: ExcelCommitMessage => m }
        .foreach(m => fs.delete(new Path(m.tempPath), false))
      if (fs.exists(dir)) cleanupShardTemps(fs, dir)
    } else {
      val fs = new Path(tmpDir).getFileSystem(conf)
      fs.delete(new Path(tmpDir), true)
    }
  }
}

object ExcelWrite {
  /** Header row on a FINAL workbook: bold when `headerBold` is set. */
  private[excel] def header(w: XlsxWriter, names: Seq[String],
      opts: ExcelOptions): Unit =
    if (opts.headerBold) w.writeHeaderRow(names) else w.writeRow(names)

  /** Driver-side merge step: copy every row of a task's temp workbook
    * (its first sheet) onto `w`, the final workbook being written. */
  private[excel] def appendTemp(w: XlsxWriter, tempPath: String,
      conf: org.apache.hadoop.conf.Configuration): Unit =
    ExcelFiles.withReader(tempPath, conf)(r =>
      r.rowIterator(r.sheets.head).foreach(row => w.writeRow(row.toSeq)))

  private val ForbiddenSheetChars = ":\\/?*[]"

  /** Excel's own sheet-name rules, enforced at write time so a bad name
    * (fixed via `sheetName` or data-dependent via `sheetColumn`) fails the
    * job with a clear message instead of producing a workbook Excel
    * refuses to open — our reader round-trips such names fine, which is
    * exactly why they'd otherwise slip through. */
  private[excel] def validateSheetName(name: String, source: String): Unit = {
    def fail(reason: String): Nothing =
      throw new org.apache.spark.SparkException(
        s"Invalid Excel sheet name '$name' from $source: $reason " +
          "(Excel requires 1-31 chars, none of : \\ / ? * [ ], and no " +
          "leading/trailing apostrophe)")
    if (name.isEmpty) fail("sheet names must be non-empty")
    if (name.length > 31) fail(s"${name.length} chars exceeds Excel's 31-char limit")
    name.find(ForbiddenSheetChars.contains(_)).foreach(c =>
      fail(s"character '$c' is forbidden"))
    if (name.startsWith("'") || name.endsWith("'"))
      fail("sheet names cannot begin or end with an apostrophe")
  }
}

case class ExcelCommitMessage(partitionId: Int, tempPath: String)
    extends WriterCommitMessage

/** Sheet-routing commit: this task's (sheet value → temp workbook) map,
  * sheet-sorted. */
case class ExcelSheetCommitMessage(partitionId: Int,
    sheets: Seq[(String, String)]) extends WriterCommitMessage

class ExcelStreamingWrite(schema: StructType, opts: ExcelOptions)
    extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {
  import org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory

  private def tmpDir(epochId: Long): String =
    s"${opts.path}/.__graft_stream_tmp_$epochId"

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    ExcelStreamingWriterFactory(schema, opts, conf)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val outDir = new Path(opts.path)
    val fs = outDir.getFileSystem(conf)
    fs.mkdirs(outDir)
    if (opts.shardedOutput) {
      // scale-out epochs: every task's shard renames into place —
      // batch-<epoch>-part-<partition>.xlsx. Idempotent on epoch replay:
      // any earlier attempt's shards for this epoch are removed first.
      Option(fs.globStatus(new Path(outDir, f"batch-$epochId%05d-part-*.xlsx")))
        .foreach(_.foreach(s => fs.delete(s.getPath, false)))
      messages.collect { case m: ExcelCommitMessage => m }.foreach { m =>
        val target = new Path(outDir,
          f"batch-$epochId%05d-part-${m.partitionId}%05d.xlsx")
        if (!fs.rename(new Path(m.tempPath), target))
          throw new org.apache.spark.SparkException(
            s"Excel streaming sink failed to rename ${m.tempPath} to $target")
      }
      fs.delete(new Path(tmpDir(epochId)), true)
      return
    }
    val target = new Path(outDir, f"batch-$epochId%05d.xlsx")
    // write under a dot-prefixed name (invisible to ExcelFiles.list) and
    // rename into place, so a concurrent excel streaming reader can never
    // admit a half-written workbook into an offset
    val staging = new Path(outDir, f".batch-$epochId%05d.xlsx.inprogress")
    val parts = messages.collect { case m: ExcelCommitMessage => m }
      .sortBy(_.partitionId)
    val writer = new XlsxWriter(fs.create(staging, true), opts.writeSheetName,
      opts.widthsFor(schema.fieldNames.toIndexedSeq))
    try {
      if (opts.header) ExcelWrite.header(writer, schema.fieldNames.toIndexedSeq, opts)
      parts.foreach(m => ExcelWrite.appendTemp(writer, m.tempPath, conf))
    } finally {
      writer.close()
      fs.delete(new Path(tmpDir(epochId)), true)
    }
    if (fs.exists(target)) fs.delete(target, false) // epoch replay: idempotent
    if (!fs.rename(staging, target)) {
      fs.delete(staging, false)
      throw new org.apache.spark.SparkException(
        s"Excel streaming sink failed to rename $staging to $target")
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val fs = new Path(opts.path).getFileSystem(conf)
    fs.delete(new Path(tmpDir(epochId)), true)
  }
}

case class ExcelStreamingWriterFactory(schema: StructType, opts: ExcelOptions,
    conf: SerializableConfiguration)
    extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new ExcelDataWriter(schema, opts,
      s"${opts.path}/.__graft_stream_tmp_$epochId", partitionId, taskId,
      conf.value, sharded = opts.shardedOutput)
}

case class ExcelDataWriterFactory(schema: StructType, opts: ExcelOptions,
    tmpDir: String, conf: SerializableConfiguration,
    sharded: Boolean = false) extends DataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ExcelDataWriter(schema, opts, tmpDir, partitionId, taskId, conf.value,
      sharded)
}

/** Streams one partition into a temp workbook on the target FS —
  * headerless when destined for a driver-side merge, self-contained
  * (dot-prefixed name + own header) in sharded mode.
  *
  * With `sheetColumn`, the task instead keeps one temp workbook open PER
  * routing value seen (xlsx streams forward only — a sheet cannot be
  * reopened, so interleaved values need separate files) and the commit
  * message maps value → temp path; the driver merge concatenates each
  * value's temps in partition order under one sheet. */
class ExcelDataWriter(schema: StructType, opts: ExcelOptions, tmpDir: String,
    partitionId: Int, taskId: Long,
    conf: org.apache.hadoop.conf.Configuration,
    sharded: Boolean = false) extends DataWriter[InternalRow] {

  private val sheetColIdx: Int =
    opts.sheetColumn.map(schema.fieldIndex).getOrElse(-1)

  private val fs = new Path(tmpDir).getFileSystem(conf)
  private var closed = false

  // single-workbook mode state (sheetColumn unset)
  private val tempPath =
    if (sheetColIdx >= 0) null
    else if (sharded) // hidden in-place temp, renamed at commit
      new Path(tmpDir, f".part-$partitionId%05d-$taskId.xlsx.inprogress")
    else new Path(tmpDir, f"part-$partitionId%05d-$taskId.xlsx")
  private val writer =
    if (sheetColIdx >= 0) null
    else if (sharded) // a shard IS final output: styles apply
      new XlsxWriter(fs.create(tempPath, true), opts.writeSheetName,
        opts.widthsFor(schema.fieldNames.toIndexedSeq))
    else new XlsxWriter(fs.create(tempPath, true), "data")
  if (writer != null && sharded && opts.header)
    ExcelWrite.header(writer, schema.fieldNames.toIndexedSeq, opts)

  // sheet-routing mode state: value → (writer, temp path), kept in LRU
  // order (a get re-inserts). Open writers are capped at
  // opts.maxOpenSheetWriters: past the cap the least-recently-used one is
  // closed and parked in `finishedSegments`; a value that reappears opens
  // a fresh temp segment (xlsx streams forward-only), and the driver merge
  // concatenates a sheet's segments in emission order.
  private val routed =
    scala.collection.mutable.LinkedHashMap.empty[String, (XlsxWriter, Path)]
  private val finishedSegments =
    scala.collection.mutable.ArrayBuffer.empty[(String, Path)]
  // case-insensitive collision guard: Excel sheet names are
  // case-insensitive, so "Foo" and "foo" routing values would produce a
  // workbook Excel rejects; fail at the first offending row instead
  private val lowerSeen = scala.collection.mutable.HashMap.empty[String, String]
  private var segmentSeq = 0
  private def routedWriter(sheet: String): XlsxWriter =
    routed.remove(sheet) match {
      case Some(entry) => routed.put(sheet, entry); entry._1 // LRU refresh
      case None =>
        ExcelWrite.validateSheetName(sheet,
          s"sheetColumn '${opts.sheetColumn.get}' row value")
        val lower = sheet.toLowerCase(java.util.Locale.ROOT)
        lowerSeen.get(lower).filter(_ != sheet).foreach(prev =>
          throw new org.apache.spark.SparkException(
            s"sheetColumn values '$prev' and '$sheet' collide " +
              "case-insensitively (Excel treats sheet names as " +
              "case-insensitive)"))
        lowerSeen.update(lower, sheet)
        if (routed.size >= opts.maxOpenSheetWriters) {
          val (lruSheet, (w, p)) = routed.head
          w.close()
          finishedSegments += lruSheet -> p
          routed.remove(lruSheet)
        }
        val p = new Path(tmpDir,
          f"part-$partitionId%05d-$taskId-s$segmentSeq.xlsx")
        segmentSeq += 1
        val w = new XlsxWriter(fs.create(p, true), "data")
        routed.put(sheet, (w, p))
        w
    }

  private def mkGetter(f: StructField, i: Int): InternalRow => Any = {
    val g: InternalRow => Any = f.dataType match {
      case StringType => r => r.getUTF8String(i).toString
      case IntegerType => r => java.lang.Long.valueOf(r.getInt(i).toLong)
      case LongType => r => java.lang.Long.valueOf(r.getLong(i))
      case DoubleType => r => java.lang.Double.valueOf(r.getDouble(i))
      case FloatType => r => java.lang.Double.valueOf(r.getFloat(i).toDouble)
      case BooleanType => r => java.lang.Boolean.valueOf(r.getBoolean(i))
      case DateType => r => LocalDate.ofEpochDay(r.getInt(i).toLong)
      case TimestampType => r => LocalDateTime.ofInstant(
        // microsToInstant, overflow-safe: micros*1000 as nanos overflows a
        // Long past ~2262 even though Excel serials reach 9999
        org.apache.spark.sql.catalyst.util.DateTimeUtils.microsToInstant(r.getLong(i)),
        ZoneOffset.UTC)
      case other => throw new UnsupportedOperationException(other.toString)
    }
    (r: InternalRow) => if (r.isNullAt(i)) null else g(r)
  }

  /** Getters over the DATA columns: everything except the routing column. */
  private val getters: Array[InternalRow => Any] =
    schema.fields.zipWithIndex
      .filter { case (_, i) => i != sheetColIdx }
      .map { case (f, i) => mkGetter(f, i) }

  // reusable row buffer: the hot write loop allocates nothing per row
  // beyond the boxed cell values themselves (XlsxWriter consumes the
  // values synchronously, so handing it the same wrapper each call is safe)
  private val rowBuf = new Array[Any](getters.length)
  private val rowView: collection.Seq[Any] =
    scala.collection.mutable.ArraySeq.make(rowBuf)

  private def fillRowBuf(row: InternalRow): Unit = {
    var i = 0
    while (i < getters.length) { rowBuf(i) = getters(i)(row); i += 1 }
  }

  override def write(row: InternalRow): Unit =
    if (sheetColIdx < 0) { fillRowBuf(row); writer.writeRow(rowView) }
    else {
      if (row.isNullAt(sheetColIdx))
        throw new org.apache.spark.SparkException(
          s"sheetColumn '${opts.sheetColumn.get}' is null for a row; " +
            "null sheet names are not representable — filter or fill first")
      val w = routedWriter(row.getUTF8String(sheetColIdx).toString)
      fillRowBuf(row)
      w.writeRow(rowView)
    }

  override def commit(): WriterCommitMessage = {
    closeAll()
    if (sheetColIdx < 0) ExcelCommitMessage(partitionId, tempPath.toString)
    else ExcelSheetCommitMessage(partitionId,
      // evicted segments first, then still-open ones; the sort is stable,
      // so a sheet's segments stay in emission (= row) order
      (finishedSegments.toSeq ++ routed.map { case (s, (_, p)) => s -> p })
        .map { case (s, p) => s -> p.toString }.sortBy(_._1))
  }

  override def abort(): Unit = {
    closeAll()
    if (sheetColIdx < 0) fs.delete(tempPath, false)
    else {
      routed.values.foreach { case (_, p) => fs.delete(p, false) }
      finishedSegments.foreach { case (_, p) => fs.delete(p, false) }
    }
  }

  override def close(): Unit = closeAll()

  private def closeAll(): Unit = if (!closed) {
    if (writer != null) writer.close()
    routed.values.foreach(_._1.close())
    closed = true
  }
}
