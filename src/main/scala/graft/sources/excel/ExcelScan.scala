package graft.sources.excel

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Batch scan: one input partition per `.xlsx` file — preserving the
  * reference's observable contract that a directory of N files reads as N
  * partitions (`/root/reference/tests/test_excel_connector.py:162-187`).
  * Supports column pruning ([[SupportsPushDownRequiredColumns]]) and limit
  * pushdown ([[SupportsPushDownLimit]]); both stop per-cell decode work the
  * reference always pays (it parses whole files with pandas,
  * connector.py:185-200).
  */
class ExcelScanBuilder(fullSchema: StructType, opts: ExcelOptions)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters
    with SupportsPushDownLimit
    with SupportsPushDownTopN
    with SupportsPushDownOffset
    with SupportsPushDownTableSample
    with SupportsPushDownAggregates {

  private var requiredSchema: StructType = fullSchema
  private var limit: Int = -1
  private var offset: Int = 0
  // the single file the accepted OFFSET was planned against — frozen at
  // pushdown time so a file landing in the directory between optimization
  // and execution can't fan the scan out to N partitions that would each
  // drop `offset` rows (plan-time listing snapshot, the same semantics
  // Spark's own file sources give their file index)
  private var offsetFile: Option[String] = None
  private var sample: Option[ExcelSample] = None
  private var topN: Option[ExcelTopN] = None
  private var pushed: Array[org.apache.spark.sql.sources.Filter] = Array.empty
  private var pushedAggs: Seq[PushedExcelAgg] = Nil

  override def pruneColumns(requiredSchema: StructType): Unit = {
    this.requiredSchema = requiredSchema
  }

  override def pushFilters(
      filters: Array[org.apache.spark.sql.sources.Filter]): Array[org.apache.spark.sql.sources.Filter] = {
    // widen with the `_file_path` metadata column (when not shadowed by a
    // real data column) so its filters survive into `pushed` — that is
    // what lets planInputPartitions drop whole files statically
    val filterSchema =
      if (fullSchema.fieldNames.contains(ExcelSchema.FilePathColumn)) fullSchema
      else fullSchema.add(ExcelSchema.FilePathColumn,
        org.apache.spark.sql.types.StringType, nullable = false)
    pushed = org.apache.spark.sql.graftbridge.ColumnBridge
      .supportedFilters(filters, filterSchema)
    filters // all stay post-scan: Spark re-applies (cheap, simple correctness)
  }

  override def pushedFilters(): Array[org.apache.spark.sql.sources.Filter] = pushed

  override def pushLimit(limit: Int): Boolean = {
    this.limit = limit
    false // partial: each partition still caps rows, Spark re-applies the limit
  }

  /** TOP-N pushdown, PARTIAL: each partition keeps only its own `limit`
    * best rows under the pushed ordering in a bounded heap (state is n
    * rows, independent of partition size), and Spark retains the global
    * TakeOrderedAndProject — so correctness never depends on cross-
    * partition order, while emit/convert work drops from partition-size
    * to n. This is the order-by analogue of the partial `pushLimit`
    * above: an `ORDER BY col LIMIT n` over a TB of sheets decodes
    * everything (filter/sample still see every row) but ships only
    * n·partitions rows into the sort. Declines non-column sort keys,
    * unorderable types, and scans already claimed by aggregates or an
    * accepted OFFSET (the reader's offset skip is defined on raw sheet
    * order, not sorted order). */
  override def pushTopN(orders: Array[
      org.apache.spark.sql.connector.expressions.SortOrder],
      limit: Int): Boolean = {
    import org.apache.spark.sql.connector.expressions.{NamedReference,
      NullOrdering, SortDirection}
    if (limit <= 0 || pushedAggs.nonEmpty || offset > 0) return false
    val keys = orders.toSeq.map { so =>
      so.expression() match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          val name = nr.fieldNames()(0)
          fullSchema.fields.find(_.name == name)
            .filter(f => ExcelTopN.orderable(f.dataType))
            .map(_ => ExcelSortKey(name,
              so.direction() == SortDirection.DESCENDING,
              so.nullOrdering() == NullOrdering.NULLS_LAST))
        case _ => None
      }
    }
    if (keys.exists(_.isEmpty)) return false
    topN = Some(ExcelTopN(keys.map(_.get), limit))
    true
  }

  override def isPartiallyPushed(): Boolean = true

  /** OFFSET pushdown is COMPLETE when accepted (Spark removes the Offset
    * operator), so accept ONLY when this scan provably plans exactly one
    * partition whose output order is the sheet's dense row order: a
    * single listed file, one sheet, no row-range splits, and no filters
    * anywhere (Spark offers pushOffset only with no Filter between Offset
    * and the relation; ours all stay post-scan, so a filtered query never
    * reaches here — the guard is defensive).
    * The reader then skips the first `offset` data rows without
    * converting or emitting them. Multi-file scans decline: cross-
    * partition row order is not defined, exactly why generic file
    * sources don't push OFFSET at all. */
  override def pushOffset(offset: Int): Boolean = {
    // sample.isEmpty: Spark pushes TABLESAMPLE before OFFSET, and the
    // reader applies the offset to raw PRE-sample rows — accepting both
    // would skip `offset` raw rows where SQL semantics demand `offset`
    // SAMPLED rows. One of the two must stay an operator; sample won.
    if (opts.allSheets || opts.maxRowsPerPartition.nonEmpty ||
      pushed.nonEmpty || pushedAggs.nonEmpty || sample.nonEmpty ||
      topN.nonEmpty) return false
    val single =
      try {
        val conf = SparkSession.active.sessionState.newHadoopConf()
        ExcelFiles.list(opts.path, conf, opts.recursiveFileLookup,
          opts.xlsxOnly) match {
          case Seq(only) => Some(only)
          case _ => None
        }
      } catch { case scala.util.control.NonFatal(_) => None }
    single match {
      case Some(f) => this.offset = offset; this.offsetFile = Some(f); true
      case None => false
    }
  }

  /** TABLESAMPLE pushdown (complete): each partition keeps a row iff a
    * uniform draw lands in [lower, upper) — exactly the Bernoulli
    * semantics of Spark's own `Sample` operator, evaluated BEFORE cell
    * conversion so dropped rows never build InternalRows. The draw
    * sequence is seeded per (seed, file, startRow), so task retries and
    * repeated actions over the same scan reproduce the same sample.
    * Declines replacement sampling (Poisson multiplicities don't fit a
    * keep/drop reader loop). Sampling composes
    * per-partition, so multi-file directories and row-range splits all
    * qualify — unlike OFFSET, no cross-partition order is involved. */
  override def pushTableSample(lowerBound: Double, upperBound: Double,
      withReplacement: Boolean, seed: Long): Boolean = {
    // offset == 0 is defensive (Spark pushes sample first; see pushOffset)
    if (withReplacement || pushedAggs.nonEmpty || offset > 0) return false
    sample = Some(ExcelSample(lowerBound, upperBound, seed))
    true
  }

  /** Unfiltered, ungrouped COUNT(*)/MIN/MAX are answered in-scan — a pure
    * count by an XML tag scan (zero cell decode), MIN/MAX (optionally
    * beside COUNT) by a single pass that decodes ONLY the referenced
    * columns and emits one partial row per partition. Partial pushdown
    * (supportCompletePushDown=false): Spark merges the per-file partials,
    * so multi-file directories and AQE behave normally. */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = false

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{CountStar, Max, Min}
    // a pushed filter means rows are conditionally kept — aggregates must
    // then come from the row reader (Spark only offers the aggregate when
    // it pushed all filters, but stay defensive). Multi-sheet reads fall
    // back to the row reader (`_sheet` may be referenced; per-sheet scans
    // would need the same probe anyway).
    if (agg.groupByExpressions.nonEmpty || pushed.nonEmpty || limit >= 0 ||
      offset > 0 || sample.nonEmpty || opts.allSheets) return false
    def colOf(e: org.apache.spark.sql.connector.expressions.Expression): Option[String] =
      e match {
        case nr: NamedReference if nr.fieldNames().length == 1 =>
          Some(nr.fieldNames()(0)).filter(n => fullSchema.fieldNames.contains(n))
        case _ => None
      }
    val resolved: Seq[Option[PushedExcelAgg]] =
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => Some(PushedCountStar)
        case m: Min => colOf(m.column).map(PushedMin)
        case m: Max => colOf(m.column).map(PushedMax)
        case _ => None
      }
    if (resolved.nonEmpty && resolved.forall(_.isDefined)) {
      pushedAggs = resolved.map(_.get)
      true
    } else false
  }

  override def build(): Scan = pushedAggs match {
    case Nil =>
      new ExcelScan(fullSchema, requiredSchema, opts, limit, pushed, offset,
        sample, offsetFile, topN)
    case Seq(PushedCountStar) => new ExcelCountScan(opts) // tag-scan fast path
    case aggs => new ExcelAggScan(fullSchema, opts, aggs)
  }
}

/** A pushed Bernoulli TABLESAMPLE: keep a row iff a uniform draw lands
  * in [lower, upper). */
case class ExcelSample(lower: Double, upper: Double, seed: Long)

/** One pushed sort key: column name + Spark SortOrder semantics. */
case class ExcelSortKey(name: String, descending: Boolean, nullsLast: Boolean)

/** A pushed PARTIAL top-N: each partition emits only its `n` best rows
  * under `keys`; Spark keeps the global sort+limit. */
case class ExcelTopN(keys: Seq[ExcelSortKey], n: Int)

object ExcelTopN {
  import org.apache.spark.sql.types._

  /** Types the per-partition heap can order — exactly the set the excel
    * schema inference produces. */
  def orderable(dt: DataType): Boolean = dt match {
    case IntegerType | LongType | DoubleType | BooleanType | StringType |
      DateType | TimestampType => true
    case _ => false
  }

  /** Total order on output rows matching Spark's SortOrder semantics for
    * the pushed keys. Ties compare equal — partial pushdown permits any
    * n-subset of tied boundary rows, since Spark re-sorts globally. */
  def rowOrdering(schema: StructType,
      keys: Seq[ExcelSortKey]): Ordering[InternalRow] = {
    val cmps: Array[(InternalRow, InternalRow) => Int] = keys.toArray.map {
      k =>
        val i = schema.fieldIndex(k.name)
        val dt = schema(i).dataType
        (a: InternalRow, b: InternalRow) => {
          val an = a.isNullAt(i)
          val bn = b.isNullAt(i)
          if (an && bn) 0
          else if (an) { if (k.nullsLast) 1 else -1 }
          else if (bn) { if (k.nullsLast) -1 else 1 }
          else {
            val c = dt match {
              case IntegerType | DateType =>
                java.lang.Integer.compare(a.getInt(i), b.getInt(i))
              case LongType | TimestampType =>
                java.lang.Long.compare(a.getLong(i), b.getLong(i))
              case DoubleType =>
                java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
              case BooleanType =>
                java.lang.Boolean.compare(a.getBoolean(i), b.getBoolean(i))
              case StringType =>
                a.getUTF8String(i).compareTo(b.getUTF8String(i))
              case other => throw new IllegalStateException(
                s"unorderable pushed top-N key type: $other") // guarded at push
            }
            if (k.descending) -c else c
          }
        }
    }
    (a: InternalRow, b: InternalRow) => {
      var r = 0
      var i = 0
      while (r == 0 && i < cmps.length) { r = cmps(i)(a, b); i += 1 }
      r
    }
  }
}

/** Bounds a partition's output to its own top-n rows under the pushed
  * ordering: a size-n max-heap absorbs the underlying reader's stream
  * (rows must be copied — the inner reader may reuse buffers), then
  * replays in heap order. Emitted order is deliberately arbitrary:
  * Spark's retained TakeOrderedAndProject imposes the final order, this
  * wrapper only caps what reaches it. Heap state is n rows regardless of
  * partition size. */
class TopNPartitionReader(under: PartitionReader[InternalRow],
    schema: StructType, topN: ExcelTopN)
    extends PartitionReader[InternalRow] {
  private var it: Iterator[InternalRow] = null
  private var current: InternalRow = _

  private def drain(): Iterator[InternalRow] = {
    val ord = ExcelTopN.rowOrdering(schema, topN.keys)
    // PriorityQueue dequeues the MAX per `ord`: head is the worst kept
    // row, replaced whenever a strictly better one arrives
    val heap = new scala.collection.mutable.PriorityQueue[InternalRow]()(ord)
    while (under.next()) {
      val r = under.get().copy()
      if (heap.size < topN.n) heap.enqueue(r)
      else if (ord.lt(r, heap.head)) { heap.dequeue(); heap.enqueue(r) }
    }
    heap.iterator
  }

  override def next(): Boolean = {
    if (it == null) it = drain()
    if (it.hasNext) { current = it.next(); true } else false
  }

  override def get(): InternalRow = current

  override def close(): Unit = under.close()
}

/** An aggregate the excel scan can answer itself. */
sealed trait PushedExcelAgg
case object PushedCountStar extends PushedExcelAgg
case class PushedMin(col: String) extends PushedExcelAgg
case class PushedMax(col: String) extends PushedExcelAgg

/** Scan produced when count(*) was pushed: one partition per file, each
  * emitting a single row with the file's dense row count (exact tag scan
  * — never the `<dimension>` hint, which may be stale). */
class ExcelCountScan(opts: ExcelOptions) extends Scan with Batch {

  override def readSchema(): StructType =
    new StructType().add("count_star", org.apache.spark.sql.types.LongType, false)

  override def description(): String =
    s"ExcelScan path=${opts.pathOpt.getOrElse("?")} PushedAggregation=[COUNT(*)]"

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    ExcelFiles.list(opts.path, conf, opts.recursiveFileLookup,
      opts.xlsxOnly)
      .map(f => ExcelInputPartition(f): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    ExcelCountReaderFactory(opts, conf)
  }
}

case class ExcelCountReaderFactory(opts: ExcelOptions,
    conf: SerializableConfiguration) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val filePath = partition.asInstanceOf[ExcelInputPartition].filePath
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done && { done = true; true }
      override def get(): InternalRow = {
        val n = ExcelFiles.withReader(filePath, conf.value)(rd =>
          rd.lastRowNumber(rd.resolveSheet(opts.sheetName),
            trustDimension = false))
        val dataRows = math.max(0L, n.toLong - (if (opts.header) 1L else 0L))
        new GenericInternalRow(Array[Any](dataRows))
      }
      override def close(): Unit = ()
    }
  }
}

/** Scan produced when MIN/MAX (± COUNT(*)) were pushed: one partial row
  * per partition, decoding ONLY the referenced columns — column pruning
  * and aggregation collapse into the scan, so a `SELECT min(a), max(b)`
  * over a wide workbook never builds full rows. Extremes are accumulated
  * with Spark's own per-type interpreted ordering, so in-scan results
  * agree exactly with the engine's final merge. */
class ExcelAggScan(fullSchema: StructType, opts: ExcelOptions,
    aggs: Seq[PushedExcelAgg]) extends Scan with Batch {

  private[excel] val referenced: Seq[String] = aggs.collect {
    case PushedMin(c) => c
    case PushedMax(c) => c
  }.distinct

  override def readSchema(): StructType = StructType(aggs.map {
    case PushedCountStar =>
      org.apache.spark.sql.types.StructField("count_star",
        org.apache.spark.sql.types.LongType, nullable = false)
    case PushedMin(c) =>
      org.apache.spark.sql.types.StructField(s"min($c)",
        fullSchema(c).dataType, nullable = true)
    case PushedMax(c) =>
      org.apache.spark.sql.types.StructField(s"max($c)",
        fullSchema(c).dataType, nullable = true)
  })

  override def description(): String = {
    val rendered = aggs.map {
      case PushedCountStar => "COUNT(*)"
      case PushedMin(c) => s"MIN($c)"
      case PushedMax(c) => s"MAX($c)"
    }
    s"ExcelScan path=${opts.pathOpt.getOrElse("?")} " +
      s"PushedAggregation=[${rendered.mkString(", ")}]"
  }

  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = SparkSession.active.sessionState.newHadoopConf()
    ExcelSplitPlanner.plan(
      ExcelFiles.list(opts.path, conf, opts.recursiveFileLookup,
      opts.xlsxOnly), opts, conf)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    ExcelAggReaderFactory(fullSchema, StructType(referenced.map(fullSchema(_))),
      opts, conf, aggs)
  }
}

case class ExcelAggReaderFactory(fullSchema: StructType, readFields: StructType,
    opts: ExcelOptions, conf: SerializableConfiguration,
    aggs: Seq[PushedExcelAgg]) extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ExcelInputPartition]
    new PartitionReader[InternalRow] {
      private var done = false
      override def next(): Boolean = !done && { done = true; true }
      override def get(): InternalRow = {
        val inner = new ExcelPartitionReader(p.filePath, fullSchema,
          readFields, opts, -1, conf.value,
          startRow = p.startRow, endRowExcl = p.endRowExcl, sheetOverride = p.sheet)
        val orderings = readFields.fields.map(f =>
          org.apache.spark.sql.graftbridge.ColumnBridge
            .interpretedOrdering(f.dataType))
        val mins = new Array[Any](readFields.length)
        val maxs = new Array[Any](readFields.length)
        var count = 0L
        try {
          while (inner.next()) {
            val row = inner.get()
            count += 1L
            var j = 0
            while (j < readFields.length) {
              val v = row.get(j, readFields.fields(j).dataType)
              if (v != null) { // SQL MIN/MAX ignore nulls
                if (mins(j) == null || orderings(j).compare(v, mins(j)) < 0)
                  mins(j) = v
                if (maxs(j) == null || orderings(j).compare(v, maxs(j)) > 0)
                  maxs(j) = v
              }
              j += 1
            }
          }
        } finally inner.close()
        val out = aggs.map {
          case PushedCountStar => count.asInstanceOf[Any]
          case PushedMin(c) => mins(readFields.fieldIndex(c))
          case PushedMax(c) => maxs(readFields.fieldIndex(c))
        }.toArray
        new GenericInternalRow(out)
      }
      override def close(): Unit = ()
    }
  }
}

class ExcelScan(fullSchema: StructType, requiredSchema: StructType,
    opts: ExcelOptions, limit: Int,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    offset: Int = 0, sample: Option[ExcelSample] = None,
    offsetFile: Option[String] = None, topN: Option[ExcelTopN] = None)
    extends Scan with Batch with SupportsReportStatistics
    with SupportsRuntimeV2Filtering {

  override def readSchema(): StructType = requiredSchema

  // `_file_path` acts as a metadata column only when no data column took
  // the name (shadow rule — mirrored in the reader's resolution)
  private def filePathIsMeta: Boolean =
    !fullSchema.fieldNames.contains(ExcelSchema.FilePathColumn)

  // ---- runtime (join-driven) pruning -------------------------------------
  // Spark materializes the build side of an eligible join, converts its
  // keys to = / IN predicates on our declared filter attributes, and calls
  // filter() BEFORE (re)planning input partitions — dynamic partition
  // pruning for file-grained excel layouts (dt=…/part.xlsx manifests).
  // State is additive-only and conservative: anything unparsable is
  // ignored, so runtime filtering can only drop files/sheets Spark proved
  // irrelevant; results never change.
  @volatile private var runtimeFiles: Option[Set[String]] = None
  @volatile private var runtimeSheets: Option[Set[String]] = None

  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] = {
    // only advertise columns that are IN this scan's output: Spark's
    // PartitionPruning resolves filter attributes against readSchema and
    // raises if one is absent (a pruned-away `_file_path` can't be a
    // runtime join key anyway)
    val fp =
      if (filePathIsMeta &&
        requiredSchema.fieldNames.contains(ExcelSchema.FilePathColumn))
        Seq(org.apache.spark.sql.connector.expressions.Expressions
          .column(ExcelSchema.FilePathColumn))
      else Nil
    val sh =
      if (opts.allSheets &&
        requiredSchema.fieldNames.contains(ExcelSchema.SheetColumn))
        Seq(org.apache.spark.sql.connector.expressions.Expressions
          .column(ExcelSchema.SheetColumn))
      else Nil
    (fp ++ sh).toArray
  }

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit =
    predicates.foreach { p =>
      ExcelScan.eqOrInValues(p).foreach { case (name, values) =>
        if (name == ExcelSchema.FilePathColumn && filePathIsMeta)
          runtimeFiles = Some(runtimeFiles.fold(values)(_ intersect values))
        else if (name == ExcelSchema.SheetColumn && opts.allSheets)
          runtimeSheets = Some(runtimeSheets.fold(values)(_ intersect values))
      }
    }

  /** Relation sizing for Catalyst's join planning (CBO/broadcast
    * threshold): sum of the listed files' on-disk bytes — already in hand
    * from the same `FileStatus`es partition planning lists, no file is
    * opened — inflated by [[ExcelOptions.statsSizeFactor]] (xlsx is
    * zip-compressed; raw bytes under-report materialized size, the
    * direction that mis-broadcasts big relations) and scaled down by the
    * pruned-column fraction, since Spark invokes this AFTER pushdown on
    * the pruned scan. Without this, DSv2 falls back to
    * `defaultSizeInBytes` (effectively "huge"), so a small excel dimension
    * is never broadcast. numRows stays empty — counting rows exactly would
    * open every workbook at plan time. */
  override def estimateStatistics(): Statistics = {
    val bytes =
      try {
        val conf = SparkSession.active.sessionState.newHadoopConf()
        ExcelFiles.totalBytes(opts.path, conf, opts.recursiveFileLookup,
          opts.xlsxOnly)
      } catch {
        // planning must not die on a stats probe (path races with cleanup,
        // transient FS errors) — the scan itself will surface real errors
        case scala.util.control.NonFatal(_) => -1L
      }
    val colFrac =
      if (fullSchema.isEmpty) 1.0
      else math.max(1, requiredSchema.length).toDouble / fullSchema.length
    // a pushed TABLESAMPLE shrinks the relation's output by its keep
    // fraction — without this a sample(0.01) of a big directory reports
    // 100x its real size and Catalyst declines broadcasts the sampled
    // output easily qualifies for
    val sampleFrac = sample.fold(1.0)(s => math.max(0.0, s.upper - s.lower))
    new Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        if (bytes < 0) java.util.OptionalLong.empty()
        else java.util.OptionalLong.of(math.max(1L,
          (bytes * opts.statsSizeFactor * colFrac * sampleFrac).toLong))
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def description(): String =
    s"ExcelScan path=${opts.pathOpt.getOrElse("?")} sheet=${opts.sheetName} " +
      s"columns=[${requiredSchema.fieldNames.mkString(",")}]" +
      (if (limit >= 0) s" limit=$limit" else "") +
      topN.fold("")(t => s" PushedTopN=[${t.keys.map(k =>
        k.name + (if (k.descending) " DESC" else " ASC") +
          (if (k.nullsLast) " NULLS LAST" else " NULLS FIRST"))
        .mkString(",")} n=${t.n}]") +
      (if (offset > 0) s" PushedOffset=$offset" else "") +
      sample.fold("")(s =>
        s" PushedSample=[${s.lower},${s.upper},seed=${s.seed}]") +
      (if (filters.nonEmpty) s" PushedFilters=[${filters.mkString(", ")}]" else "")

  override def toBatch: Batch = this

  override def toMicroBatchStream(
      checkpointLocation: String): org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new ExcelMicroBatchStream(fullSchema, requiredSchema, opts,
      checkpointLocation, filters, limit, sample)

  override def planInputPartitions(): Array[InputPartition] = {
    // accepted OFFSET: the scan is frozen to the single file the builder
    // listed at pushdown time — a file landing in the directory between
    // optimization and execution must not fan this scan out to N
    // partitions that would EACH drop `offset` rows (the Offset operator
    // is already gone from the plan)
    offsetFile.foreach { f =>
      return Array(ExcelInputPartition(f))
    }
    val conf = SparkSession.active.sessionState.newHadoopConf()
    val listed = ExcelFiles.list(opts.path, conf, opts.recursiveFileLookup,
      opts.xlsxOnly)
    // file-grained pruning: a file whose URI PROVABLY fails a pushed (or
    // runtime) `_file_path` predicate is never staged, opened, or parsed.
    // Conservative keep on anything inexact — Spark re-applies all filters
    // above the scan, so pruning is an optimization, never correctness.
    val statically =
      if (filePathIsMeta && filters.nonEmpty)
        listed.filter(f => ExcelScan.fileMayMatch(f, filters))
      else listed
    val files =
      runtimeFiles.fold(statically)(allowed => statically.filter(allowed))
    val sheetFilters = runtimeSheets.fold(filters)(allowed =>
      filters :+ org.apache.spark.sql.sources.In(ExcelSchema.SheetColumn,
        allowed.toArray[Any]))
    ExcelSplitPlanner.plan(files, opts, conf, sheetFilters)
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val conf = new SerializableConfiguration(
      SparkSession.active.sessionState.newHadoopConf())
    ExcelPartitionReaderFactory(fullSchema, requiredSchema, opts, limit, conf,
      filters, offset, sample, topN)
  }
}

object ExcelScan {

  /** Parse a runtime V2 predicate of shape `col = lit` / `col IN (lits…)`
    * into (column, allowed string values); None for anything else —
    * unparsable predicates are simply not used for pruning. */
  private[excel] def eqOrInValues(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[(String, Set[String])] = p.name() match {
    case "=" | "IN" =>
      import org.apache.spark.sql.connector.expressions.{Literal => V2Literal, NamedReference}
      val children = p.children()
      val refs = children.collect { case r: NamedReference => r }
      val lits = children.collect { case l: V2Literal[_] => l }
      if (refs.length == 1 && refs(0).fieldNames().length == 1 &&
        refs.length + lits.length == children.length && lits.nonEmpty)
        Some(refs(0).fieldNames()(0) ->
          lits.map(l => String.valueOf(l.value())).toSet)
      else None
    case _ => None
  }

  /** Exactly-evaluable `_file_path` predicates a listed URI must satisfy
    * to stay planned; inexact shapes conservatively keep the file. */
  private[excel] def fileMayMatch(path: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    val C = ExcelSchema.FilePathColumn
    filters.forall {
      case EqualTo(C, v) => v == path
      case In(C, vs) => vs.contains(path)
      case StringStartsWith(C, p) => path.startsWith(p)
      case StringEndsWith(C, s) => path.endsWith(s)
      case StringContains(C, s) => path.contains(s)
      case IsNotNull(C) => true // synthesized, never null
      case _ => true
    }
  }
}

/** One partition == one xlsx file (reference `ExcelInputPartition`,
  * connector.py:47-49) — or, with `maxRowsPerPartition`, one dense-row
  * range [startRow, endRowExcl) of a file (startRow <= 0 = whole file),
  * and with `sheetName="*"`, one (file, sheet) combination (`sheet` null =
  * use the configured sheetName). */
case class ExcelInputPartition(filePath: String, startRow: Int = -1,
    endRowExcl: Int = -1, sheet: String = null) extends InputPartition

/** Shared partition planning for batch scans and micro-batch streams:
  * per-file by default, fanned out per sheet (`sheetName="*"`) and/or per
  * row range (`maxRowsPerPartition`). */
object ExcelSplitPlanner {

  def plan(files: Seq[String], opts: ExcelOptions,
      conf: org.apache.hadoop.conf.Configuration,
      filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty)
      : Array[InputPartition] = {
    if (!opts.allSheets && opts.maxRowsPerPartition.isEmpty)
      return files.map(f => ExcelInputPartition(f): InputPartition).toArray
    // each probe opens + header-parses one workbook — independent work, so
    // a directory of many files probes on a bounded driver-side pool
    // instead of one at a time; results keep the input file order
    probeAll(files, conf) { (f, rd) =>
      val sheets: Seq[(String, XlsxReader.Sheet)] =
        if (opts.allSheets)
          rd.sheets.map(s => (s.name, s))
            .filter { case (name, _) => sheetMayMatch(name, filters) }
        else Seq((null, rd.resolveSheet(opts.sheetName)))
      sheets.flatMap { case (sheetName, sheet) =>
        opts.maxRowsPerPartition match {
          case None => Seq(ExcelInputPartition(f, sheet = sheetName))
          case Some(maxRows) =>
            planRowRanges(f, sheetName, rd.lastRowNumber(sheet), maxRows, opts)
        }
      }
    }.toArray
  }

  /** Probe every file on a bounded thread pool (planning is driver-side;
    * each probe is an open + header parse, often against remote storage —
    * serial probing of a 1000-file directory is the planner bottleneck the
    * scan itself never recovers from). Results preserve `files` order so
    * partition numbering stays deterministic. */
  private def probeAll[T](files: Seq[String],
      conf: org.apache.hadoop.conf.Configuration)(
      body: (String, XlsxReader) => Seq[T]): Seq[T] = {
    if (files.lengthCompare(1) <= 0)
      return files.flatMap(f => ExcelFiles.withReader(f, conf)(body(f, _)))
    val parallelism = math.min(files.size,
      math.min(Runtime.getRuntime.availableProcessors(), 16))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism)
    try {
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutorService(pool)
      val futures = files.map { f =>
        scala.concurrent.Future(ExcelFiles.withReader(f, conf)(body(f, _)))
      }
      try
        futures.flatMap(fu =>
          scala.concurrent.Await.result(fu, scala.concurrent.duration.Duration.Inf))
      catch {
        case e: Throwable =>
          // first failure aborts planning: interrupt in-flight probes and
          // drop queued ones instead of letting them run (and fail) into a
          // dead plan; their own errors are suppressed deliberately —
          // the first one is what the user needs to see
          pool.shutdownNow()
          throw e
      }
    } finally pool.shutdown()
  }

  /** Partition pruning on the synthesized `_sheet` column: a sheet whose
    * name PROVABLY fails a pushed `_sheet` predicate is never planned,
    * parsed, or decoded. Only exactly-evaluable shapes prune (EqualTo /
    * In / IsNotNull on `_sheet`); everything else conservatively keeps the
    * sheet — Spark re-applies all filters above the scan regardless, so
    * pruning is a pure optimization, never a correctness risk. */
  private def sheetMayMatch(name: String,
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean = {
    import org.apache.spark.sql.sources._
    filters.forall {
      case EqualTo(ExcelSchema.SheetColumn, v) => v == name
      case In(ExcelSchema.SheetColumn, vs) => vs.contains(name)
      case IsNotNull(ExcelSchema.SheetColumn) => true // synthesized, never null
      case _ => true
    }
  }

  /** Split one sheet into row-range partitions of at most `maxRows` data
    * rows, capped at `maxSplitsPerFile` splits (split P re-parses rows
    * 1..start — the cap bounds that quadratic; rows-per-split grows
    * instead). The probed last row may under-report (stale `<dimension>`),
    * so the FINAL range is always unbounded — a wrong dimension can cost
    * balance, never rows. */
  private def planRowRanges(f: String, sheetName: String, lastRow: Int,
      maxRows: Int, opts: ExcelOptions): Seq[InputPartition] = {
    val dataStart = if (opts.header) 2 else 1
    val dataRows = math.max(0, lastRow - dataStart + 1)
    val wanted = math.max(1, math.ceil(dataRows.toDouble / maxRows).toInt)
    val capped = math.min(wanted, opts.maxSplitsPerFile)
    val perSplit = math.max(maxRows, math.ceil(dataRows.toDouble / capped).toInt)
    // the cap can grow perSplit past maxRows, covering the sheet in fewer
    // splits than `capped`; recompute so no split starts past the probed
    // last row — an empty trailing split still re-parses rows 1..start,
    // the exact quadratic the cap exists to bound
    val n = math.min(capped,
      math.max(1, math.ceil(dataRows.toDouble / perSplit).toInt))
    (0 until n).map { i =>
      val start = dataStart + i.toLong * perSplit
      val end = if (i == n - 1) Int.MaxValue else start + perSplit
      ExcelInputPartition(f, start.toInt, math.min(end, Int.MaxValue).toInt,
        sheetName): InputPartition
    }
  }
}

case class ExcelPartitionReaderFactory(fullSchema: StructType,
    requiredSchema: StructType,
    opts: ExcelOptions, limit: Int, conf: SerializableConfiguration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    offset: Int = 0, sample: Option[ExcelSample] = None,
    topN: Option[ExcelTopN] = None)
    extends PartitionReaderFactory {

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ExcelInputPartition]
    val base = new ExcelPartitionReader(p.filePath,
      fullSchema, requiredSchema, opts, limit, conf.value, filters,
      p.startRow, p.endRowExcl, p.sheet, offset, sample)
    topN match {
      // defensive: every key must be readable in the pruned schema (it
      // always is — the retained Sort references the keys, so pruning
      // keeps them)
      case Some(t) if t.keys.forall(k =>
          requiredSchema.fieldNames.contains(k.name)) =>
        new TopNPartitionReader(base, requiredSchema, t)
      case _ => base
    }
  }
}

/** Streams one file's chosen sheet as InternalRows, converting only the
  * required columns. Column resolution: by header name when header=true
  * (missing required column → error, matching the reference's tested
  * intent, tests/test_excel_connector.py:93-112; extra file columns are
  * ignored, :73-91); positional when header=false. */
class ExcelPartitionReader(filePath: String, fullSchema: StructType,
    requiredSchema: StructType,
    opts: ExcelOptions, limit: Int, conf: org.apache.hadoop.conf.Configuration,
    filters: Array[org.apache.spark.sql.sources.Filter] = Array.empty,
    startRow: Int = -1, endRowExcl: Int = -1, sheetOverride: String = null,
    offset: Int = 0, sample: Option[ExcelSample] = None)
    extends PartitionReader[InternalRow] {

  // pushed TABLESAMPLE: one deterministic draw sequence per (seed, file,
  // startRow) — task retries and repeated actions over the same scan
  // reproduce the same sample
  private val sampleRng: java.util.Random = sample.map(s =>
    new java.util.Random(s.seed
      ^ graft.functions.GraftHash.fnv1a64(
        filePath.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ^ (startRow.toLong * 0x9e3779b97f4a7c15L))).orNull
  private val sampleLower = sample.fold(0.0)(_.lower)
  private val sampleUpper = sample.fold(1.0)(_.upper)

  private val ranged = startRow > 0
  // multi-sheet mode: sheets legitimately differ in columns → absent
  // columns read as nulls, and `_sheet` is synthesized (index marker -2);
  // the `_file_path` metadata column is synthesized likewise (marker -3),
  // unless shadowed by a real data column of that name
  private val allowMissing = opts.allowMissingColumns || opts.allSheets
  private val SheetIdx = -2
  private val FilePathIdx = -3
  private val filePathIsMeta =
    !fullSchema.fieldNames.contains(ExcelSchema.FilePathColumn)
  private val filePathValue =
    org.apache.spark.unsafe.types.UTF8String.fromString(filePath)

  // pushed-filter evaluation via Catalyst's own OrderedFilters (exact Spark
  // comparison semantics); an optimization only — Spark re-applies all
  // filters above the scan regardless
  private val structFilters = {
    val applicable = org.apache.spark.sql.graftbridge.ColumnBridge
      .supportedFilters(filters, requiredSchema)
    if (applicable.isEmpty) None
    else Some(org.apache.spark.sql.graftbridge.ColumnBridge
      .orderedFilters(applicable.toSeq, requiredSchema))
  }

  private val workbook = ExcelFiles.open(filePath, conf)
  // a bad sheet or a missing column fails here, before Spark holds the
  // reader to close it — so release the workbook on the way out
  private val (sheetNameValue, indices, rowIter) =
    try resolve(workbook.reader)
    catch { case e: Throwable => workbook.close(); throw e }

  /** Resolve the sheet, map required fields to sheet columns, and open
    * the data-row iterator (offset and raw limit applied). */
  private def resolve(reader: XlsxReader): (
      org.apache.spark.unsafe.types.UTF8String, Array[Int],
      Iterator[Array[Any]]) = {
    val sheet = reader.resolveSheet(
      if (sheetOverride != null) sheetOverride else opts.sheetName)
    // ranged partition: the header (dense row 1) is outside the data range,
    // so it is read through its own short-range stream; the data stream
    // then decodes only [startRow, endRowExcl)
    val it =
      if (ranged) reader.rowIterator(sheet, startRow, endRowExcl)
      else reader.rowIterator(sheet)
    val headerOpt: Option[Array[Any]] =
      if (!opts.header) None
      else if (ranged) {
        val hIt = reader.rowIterator(sheet, 1, 2)
        if (hIt.hasNext) Some(hIt.next()) else None
      } else if (it.hasNext) Some(it.next())
      else None
    val (colIndex, dataIter) =
      if (opts.header) {
        if (headerOpt.isEmpty) (requiredSchema.fields.map(_ => -1), it)
        else {
          val headerRow = headerOpt.get
          // width must match inference (ExcelSchema.inferFromFile uses the
          // max of header and widest sampled data row), so positional
          // 'Unnamed: N' fallbacks resolve for data-wider-than-header files
          val names = ExcelSchema.columnNames(Some(headerRow),
            math.max(headerRow.length, fullSchema.length), header = true)
          val nameToIdx = names.zipWithIndex.toMap
          val idx = requiredSchema.fields.map { f =>
            if (opts.allSheets && f.name == ExcelSchema.SheetColumn) SheetIdx
            else if (filePathIsMeta && f.name == ExcelSchema.FilePathColumn)
              FilePathIdx
            else nameToIdx.getOrElse(f.name,
              if (allowMissing) -1
              else throw new org.apache.spark.SparkException(
                s"Column '${f.name}' not found in $filePath " +
                  s"(sheet columns: ${names.mkString(", ")})"))
          }
          (idx, it)
        }
      } else {
        // positional: field ← its position in the FULL schema (pruning must
        // not shift positions — requiredSchema indices would read the wrong
        // file columns after a select())
        (requiredSchema.fields.map { f =>
          if (opts.allSheets && f.name == ExcelSchema.SheetColumn) SheetIdx
          else if (filePathIsMeta && f.name == ExcelSchema.FilePathColumn)
            FilePathIdx
          else fullSchema.fieldIndex(f.name)
        }, it)
      }
    // pushed OFFSET (complete; builder accepted only for a single
    // unfiltered single-sheet partition): skip the first `offset` data
    // rows before any conversion or emission. Skipping precedes the
    // limit cap — the pushed limit counts post-offset rows.
    val offsetIter = if (offset > 0) dataIter.drop(offset) else dataIter
    // raw-iterator take(limit) is only sound with no pushed filters AND
    // no pushed sample; with either, the limit must count KEPT rows (see
    // `kept` in next()) or qualifying rows beyond the first `limit` raw
    // rows would be dropped
    (org.apache.spark.unsafe.types.UTF8String.fromString(sheet.name),
      colIndex,
      if (limit >= 0 && structFilters.isEmpty && sample.isEmpty)
        offsetIter.take(limit)
      else offsetIter)
  }
  private var current: InternalRow = _
  private var kept: Long = 0L

  override def next(): Boolean = {
    if (limit >= 0 && kept >= limit) return false
    while (rowIter.hasNext) {
      val raw = rowIter.next()
      // pushed TABLESAMPLE decides BEFORE any cell conversion: a dropped
      // row never builds an InternalRow. The draw is consumed exactly
      // once per raw row, keeping the sequence aligned across reads.
      if (sampleRng != null) {
        val x = sampleRng.nextDouble()
        if (x >= sampleLower && x < sampleUpper && convertAndFilter(raw))
          return true
      } else if (convertAndFilter(raw)) return true
    }
    false
  }

  /** Convert `raw` to an InternalRow, evaluate pushed filters; on keep,
    * set `current`, count it against the limit, and return true. */
  private def convertAndFilter(raw: Array[Any]): Boolean = {
    val values = new Array[Any](requiredSchema.length)
    var i = 0
    while (i < indices.length) {
      val src = indices(i)
      if (src == SheetIdx) {
        values(i) = sheetNameValue
      } else if (src == FilePathIdx) {
        values(i) = filePathValue
      } else {
        val cell = if (src >= 0 && src < raw.length) raw(src) else null
        values(i) = ExcelSchema.convert(cell, requiredSchema.fields(i).dataType)
      }
      i += 1
    }
    val row = new GenericInternalRow(values)
    val keep = structFilters match {
      case None => true
      case Some(sf) =>
        sf.reset()
        var j = 0
        var skip = false
        while (j < requiredSchema.length && !skip) {
          if (sf.skipRow(row, j)) skip = true
          j += 1
        }
        !skip
    }
    if (keep) {
      current = row
      kept += 1
    }
    keep
  }

  override def get(): InternalRow = current

  override def close(): Unit = workbook.close()
}
