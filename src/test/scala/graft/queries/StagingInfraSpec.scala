package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins for the streaming-gate staging and run infrastructure
  * ([[StreamGate]]):
  *  - the uncapped scale-adaptive shard fan-out;
  *  - the count-validated staging cache (a partially-reaped staged dir
  *    must re-stage, not silently return partial rows);
  *  - the per-run stream-dir reclaim, which removes only this process's
  *    run dirs;
  *  - a staging miss rewrites only the gate's `in` dir, so another
  *    process's run dir under the same base survives it;
  *  - every gate reclaims its prior run dirs (d16 once kept them all);
  *  - the private stream session carries the caller's state-store
  *    provider.
  * The gate-level cases run on a small synthetic corpus in a temp dir. */
class StagingInfraSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  /** A temp corpus with just the tables the gates below read. */
  private lazy val corpus: String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_gate_corpus").toFile
    (1 to 12).map(i => (i.toLong, s"Supplier#$i", (i % 5).toLong, i * 10.5))
      .toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
      .write.parquet(new File(dir, "supplier.parquet").getAbsolutePath)
    (0 to 60).map(i => (i.toLong,
        s"doc ${i % 7} shares words with its near copies number ${i % 7}"))
      .toDF("doc_id", "text")
      .write.parquet(new File(dir, "documents.parquet").getAbsolutePath)
    dir.getAbsolutePath
  }

  private def gateBase(name: String): File = new File(
    System.getProperty("java.io.tmpdir"), s"${name}_${math.abs(corpus.hashCode)}")

  test("streamBatchShards: floor 4, grows with rows, NO cap — every " +
    "shard stays 2.6x under the xlsx sheet cap at any volume") {
    import spark.implicits._
    def shards(n: Long): Int =
      StreamGate.streamBatchShards(
        spark.range(n).toDF("id"))
    assert(shards(10) == 4, "small batches keep the parallelism floor")
    assert(shards(1600000) == 4, "floor covers up to 4 x 400k rows")
    assert(shards(1600001) == 5, "fan-out grows at 400k rows/shard")
    // the former min(64, ...) cap would have returned 64 here and let
    // rows/shard approach the 1,048,576 sheet cap above ~25.6M rows
    assert(shards(40000000L) == 100,
      "no cap: 40M rows -> 100 shards, 400k rows each")
  }

  test("cachedStaging: a hit re-validates the staged file COUNT — a " +
    "partially-reaped dir (some .xlsx still present) re-stages") {
    val root = Files.createTempDirectory("graft_stage_spec").toFile
    var builds = 0
    def build(): Seq[String] = {
      builds += 1
      val d = new File(root, "staged"); d.mkdirs()
      (1 to 3).foreach { i =>
        Files.write(new File(d, s"part-$i.xlsx").toPath, Array[Byte](1))
      }
      Seq(d.getAbsolutePath)
    }
    val key = s"stagingSpec:${root.getAbsolutePath}"
    val first = StreamGate.cachedStaging(spark, key, "")(build())
    assert(builds == 1 && first.size == 1)
    // clean hit: no rebuild
    StreamGate.cachedStaging(spark, key, "")(build())
    assert(builds == 1, "intact staged dir must be a cache hit")
    // partial reap: delete ONE of three files — the pre-r21 any-one-xlsx
    // check passed this and the stream silently dropped rows
    assert(new File(first.head, "part-2.xlsx").delete())
    val again = StreamGate.cachedStaging(spark, key, "")(build())
    assert(builds == 2, "a gutted staged dir must re-stage")
    assert(new File(again.head, "part-2.xlsx").exists())
  }

  test("cleanStreamRunDirs: reclaims prior runs' out_N/ckpt_N, keeps " +
    "everything else") {
    val base = Files.createTempDirectory("graft_rundir_spec").toFile
    val own = Seq(StreamGate.runDir(base, "out", 3),
      StreamGate.runDir(base, "ckpt", 3),
      StreamGate.runDir(base, "ckpt", 12))
    // run dirs this process did not create — another token's, or an
    // untokened one from an older build — may be a concurrent process's
    // live checkpoint and must survive
    val other = Seq("out_0ther_3", "ckpt_0ther_12", "ckpt_7")
      .map(new File(base, _))
    (own ++ other :+ new File(base, "in")).foreach { d =>
      d.mkdirs()
      Files.write(new File(d, "f").toPath, Array[Byte](1))
    }
    StreamGate.cleanStreamRunDirs(base)
    own.foreach(d => assert(!d.exists(), s"$d should be reclaimed"))
    other.foreach(d => assert(d.exists(), s"$d belongs to another process"))
    assert(new File(base, "in").exists(), "non-run dirs are untouched")
  }

  test("a staging miss rewrites only `in`: another process's run dir " +
    "under the gate's base survives") {
    val base = gateBase("graft_excel_stream")
    val planted = new File(base, "ckpt_0ther_1")
    planted.mkdirs()
    Files.write(new File(planted, "f").toPath, Array[Byte](1))
    // a fresh session has no cached staging, so the gate stages again
    val rows = ConnectorQueries.excelStreamRoundtrip(spark.newSession(), corpus)
      .collect()
    assert(new File(planted, "f").exists(),
      "staging must not delete a foreign run dir")
    assert(rows.map(_.getLong(0)).toSeq == (1L to 12L),
      "one row per supplier")
    StreamGate.rmTree(base)
  }

  test("d16 reclaims its prior run dirs: two runs leave one checkpoint") {
    DedupQueries.d16StreamingNearDup(spark, corpus).collect()
    DedupQueries.d16StreamingNearDup(spark, corpus).collect()
    val base = gateBase("graft_stream_neardup")
    val ckpts = base.list().filter(_.startsWith(s"ckpt_${StreamGate.runToken}_"))
    assert(ckpts.length == 1, ckpts.mkString(", "))
    StreamGate.rmTree(base)
  }

  test("streamSession copies the caller's state-store provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks =
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    val caller = spark.newSession()
    caller.conf.set(key, rocks)
    assert(StreamGate.streamSession(caller).conf.get(key) == rocks)
  }
}
