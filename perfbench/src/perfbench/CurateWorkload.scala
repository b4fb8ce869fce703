package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupClusters, TextAnalysis}

/** `docs_curate`: seeded documents held in sharded xlsx, read, scored
  * (`qualityScore`, `tokenCount`), near-duplicate clustered
  * (`minhashLshPairs` → `connectedComponents`), reduced to one
  * representative per cluster and written back as sharded xlsx. The
  * operators do almost all the work and the connector little; without this
  * workload the `ops` layer would go unmeasured. */
object CurateWorkload {

  val DocCount = 1000
  val Shards = 4
  /** Share of documents planted in near-copy clusters. */
  val ClusterShare = 0.2
  /** 16 bands of 8 rows: a pair at Jaccard 0.9 shares no band with
    * probability (1 - 0.9^8)^16 ≈ 1.2e-4 (see README). */
  val Hashes = 128
  val Bands = 16
  val Threshold = 0.9

  final case class Input(dir: File, corpus: Docs.Corpus)

  def generate(ctx: Ctx, dir: File, docs: Int): Input = {
    val corpus = Docs.generate(ctx.seed, docs, ClusterShare)
    dir.mkdirs()
    corpus.docs.grouped((corpus.docs.size + Shards - 1) / Shards).zipWithIndex
      .foreach { case (part, i) =>
        InlineBook.write(new File(dir, f"part-$i%05d.xlsx"), Seq("id", "text"),
          part.iterator.map { case (id, t) => Array[Any](java.lang.Long.valueOf(id), t) })
      }
    Input(dir, corpus)
  }

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val layerTimes = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    def timed[T](name: String)(body: => T): T = {
      val t0 = System.nanoTime()
      val r = t.span("ops", name)(body)
      layerTimes.getOrElseUpdate(s"ops.${name}_s", mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e9
      r
    }
    val pipelineTimes = mutable.ArrayBuffer.empty[Double]
    var n = 0
    var verified = 0L

    /** The pipeline. Traced, each stage is materialized on its own so its
      * time can be told apart; untraced, it runs as the user would write it. */
    def pipeline(in: Input, out: File): Unit = {
      val read = timed("read") {
        val df = spark.read.format("excel").schema(Docs.schema).load(in.dir.getPath)
          .withColumn("qualityScore", TextAnalysis.qualityScore(col("text")))
          .withColumn("tokenCount", TextAnalysis.tokenCount(col("text")))
        if (ctx.traced) { val c = df.cache(); c.count(); c } else df
      }
      val pairs = timed("pairs") {
        val p = Dedup.minhashLshPairs(read, "id", "text", Hashes, Bands, 3, Threshold)
        if (ctx.traced) { val c = p.cache(); verified = c.count(); c } else p
      }
      val labels = timed("components")(DedupClusters.connectedComponents(pairs, "id_a", "id_b"))
      timed("write") {
        read.join(labels.where(col("id") =!= col("label")).select("id"), Seq("id"), "left_anti")
          .write.format("excel").option("shardedOutput", "true").mode("overwrite")
          .save(out.getPath)
      }
      if (ctx.traced) { pairs.unpersist(); read.unpersist() }
    }

    def once(in: Input, record: Boolean): Unit = {
      n += 1
      val out = new File(ctx.work, s"curated-$n")
      val secs = ctx.op("curate")(pipeline(in, out)) { _ =>
        val got = spark.read.format("excel").schema(Docs.schema).load(out.getPath)
          .select(col("id"), TextAnalysis.tokenCount(col("text")).as("tc")).collect()
        got.map(_.getLong(0)).toSet == in.corpus.keep && got.length == in.corpus.keep.size &&
          got.map(_.getLong(1)).sum == in.corpus.keptTokens
      }
      Workdir.delete(out)
      if (record) pipelineTimes ++= secs
    }

    // warm-up on a small corpus: class loading, code generation, first jobs
    once(generate(ctx, new File(ctx.work, "docs-warm"), DocCount / 10), record = false)
    val in = ctx.setup(5)(i => generate(ctx, new File(ctx.work, s"docs-$i"), DocCount))
    // and once on the full corpus: the JIT is still compiling after the
    // small one, which left the first timed pipelines a third slower
    if (!ctx.probing) once(in, record = false)
    layerTimes.clear()
    val before = ctx.sparkStats.map(_.sum(spark))
    val t0 = System.nanoTime()
    var runs = 0
    ctx.loop(min = 3) { once(in, record = true); runs += 1 }
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.log(s"docs_curate: $runs pipelines over ${in.corpus.docs.size} documents, " +
      s"${in.corpus.clusters} planted clusters")
    if (pipelineTimes.nonEmpty) {
      val median = Stats.median(pipelineTimes.toSeq)
      ctx.e2e("rows_per_s", in.corpus.docs.size / median, "rows/s")
      ctx.e2e("op_p50_s", median, "s")
    }

    if (ctx.traced) {
      layerTimes.foreach { case (k, v) => ctx.layer(k, Stats.median(v.toSeq), "s") }
      val window = ctx.sparkStats.get.sum(spark) - before.get
      ctx.sparkLayer(window, runs, wall)
      ctx.layer("ops.shuffle_write_bytes", window.shuffleWrite.toDouble / runs, "B/op")
      ctx.layer("ops.peak_exec_mem_mb", window.peakMem / 1048576.0, "MB")
      ctx.layer("ops.spill_bytes", window.spill.toDouble / runs, "B/op")
      // candidates: every pair sharing a band, before the exact-Jaccard cut
      val docs = spark.read.format("excel").schema(Docs.schema).load(in.dir.getPath)
      val candidates = t.span("ops", "candidates")(
        Dedup.minhashLshPairs(docs, "id", "text", Hashes, Bands, 3, 0.0).count())
      ctx.layer("ops.candidate_pairs", candidates, "pairs")
      ctx.layer("ops.verified_pairs", verified, "pairs")
      ctx.layer("ops.verify_ratio", verified.toDouble / math.max(1L, candidates), "ratio")
      writeLayer(ctx, in)
    }
  }

  /** The write layer in both modes, on the input documents: task time,
    * the commit (end of the last write stage to the return of `save()`)
    * and output bytes; then the codec alone, encoding and decoding them. */
  private def writeLayer(ctx: Ctx, in: Input): Unit = {
    val spark = ctx.spark
    val docs = spark.read.format("excel").schema(Docs.schema).load(in.dir.getPath).cache()
    val rows = docs.count()
    Seq("merged", "sharded").foreach { mode =>
      val out = new File(ctx.work, s"docs-$mode" + (if (mode == "merged") ".xlsx" else ""))
      ctx.tracer.span("write", mode) {
        docs.write.format("excel").option("shardedOutput", (mode == "sharded").toString)
          .mode("overwrite")
          .save(out.getPath)
      }
      val returned = System.nanoTime()
      val g = ctx.sparkStats.get.group(spark, s"write.$mode")
      ctx.layer(s"write.$mode.task_s", g.runMs / 1000.0, "s")
      ctx.layer(s"write.$mode.commit_s", (returned - g.lastStageEndNs) / 1e9, "s")
      ctx.layer(s"write.$mode.bytes_per_row", Workdir.sizeOf(out).toDouble / rows, "B/row")
      Workdir.delete(out)
    }
    docs.unpersist()
    Codec.encode(ctx, Seq("id", "text"), in.corpus.docs.map { case (id, t) =>
      Array[Any](java.lang.Long.valueOf(id), t) })
    val files = Option(in.dir.listFiles).toSeq.flatten.filter(_.getName.endsWith(".xlsx")).sorted
    Codec.decode(ctx, files, Map("inline" -> files))
  }
}
