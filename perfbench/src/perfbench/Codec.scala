package perfbench

import java.io.{File, OutputStream}

import graft.sources.excel.XlsxReader

/** Single-thread passes through the xlsx codec with no Spark at all, over
  * a workload's own files: the per-row cost a scan or write pays before
  * any parallelism. */
object Codec {

  /** Decode every row of every file. Reports open time, rows/s per file
    * group, MB/s of on-disk bytes and bytes allocated per row; returns the
    * overall rows/s. */
  def decode(ctx: Ctx, files: Seq[File],
      groups: Map[String, Seq[File]]): Double = {
    def pass(f: File): (Double, Long, Double) = ctx.tracer.span("codec", "decode") {
      val t0 = System.nanoTime()
      val rd = ctx.tracer.span("codec", "open")(new XlsxReader(f))
      val openMs = (System.nanoTime() - t0) / 1e6
      try {
        var n = 0L
        val it = rd.rowIterator(rd.resolveSheet("0"))
        while (it.hasNext) { it.next(); n += 1 }
        (openMs, n, (System.nanoTime() - t0) / 1e9)
      } finally rd.close()
    }
    pass(files.head) // warm-up
    val a0 = Alloc.now()
    val results = files.map(f => f -> pass(f)).toMap
    val alloc = Alloc.now() - a0
    val rows = results.values.map(_._2).sum
    val secs = results.values.map(_._3).sum
    ctx.layer("codec.open_ms", Stats.median(results.values.map(_._1).toSeq), "ms")
    groups.foreach { case (g, fs) =>
      ctx.layer(s"codec.decode_rows_per_s.$g",
        fs.map(results(_)._2).sum / fs.map(results(_)._3).sum, "rows/s")
    }
    ctx.layer("codec.decode_mb_per_s", files.map(_.length).sum / 1048576.0 / secs, "MB/s")
    ctx.layer("codec.decode_alloc_bytes_per_row", alloc.toDouble / rows, "B/row")
    rows / secs
  }

  /** Encode `rows` through the connector's writer into a byte counter. */
  def encode(ctx: Ctx, header: Seq[String], rows: IndexedSeq[Array[Any]]): Unit = {
    def pass(): Long = ctx.tracer.span("codec", "encode") {
      val out = new Counting
      InlineBook.write(out, header, rows.iterator)
      out.n
    }
    pass() // warm-up
    val a0 = Alloc.now()
    val t0 = System.nanoTime()
    val bytes = pass()
    val secs = (System.nanoTime() - t0) / 1e9
    val alloc = Alloc.now() - a0
    ctx.layer("codec.encode_rows_per_s", rows.size / secs, "rows/s")
    ctx.layer("codec.encode_mb_per_s", bytes / 1048576.0 / secs, "MB/s")
    ctx.layer("codec.encode_alloc_bytes_per_row", alloc.toDouble / rows.size, "B/row")
    ctx.layer("codec.bytes_per_row", bytes.toDouble / rows.size, "B/row")
  }

  private final class Counting extends OutputStream {
    var n = 0L
    override def write(b: Int): Unit = n += 1
    override def write(b: Array[Byte], off: Int, len: Int): Unit = n += len
  }
}
