package graft.queries

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Focused pins for the r21 streaming-staging infrastructure changes:
  * the uncapped scale-adaptive shard fan-out (ADVICE r20 #1), the
  * count-validated staging cache (ADVICE r20 #2 — a partially-reaped
  * staged dir must re-stage, not silently return partial rows), and the
  * per-run stream-dir reclaim (ADVICE r20 #3). */
class StagingInfraSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  override def afterAll(): Unit = spark.stop()

  test("streamBatchShards: floor 4, grows with rows, NO cap — every " +
    "shard stays 2.6x under the xlsx sheet cap at any volume") {
    import spark.implicits._
    def shards(n: Long): Int =
      ConnectorQueries.streamBatchShards(
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
    val first = ConnectorQueries.cachedStaging(spark, key, "")(build())
    assert(builds == 1 && first.size == 1)
    // clean hit: no rebuild
    ConnectorQueries.cachedStaging(spark, key, "")(build())
    assert(builds == 1, "intact staged dir must be a cache hit")
    // partial reap: delete ONE of three files — the pre-r21 any-one-xlsx
    // check passed this and the stream silently dropped rows
    assert(new File(first.head, "part-2.xlsx").delete())
    val again = ConnectorQueries.cachedStaging(spark, key, "")(build())
    assert(builds == 2, "a gutted staged dir must re-stage")
    assert(new File(again.head, "part-2.xlsx").exists())
  }

  test("cleanStreamRunDirs: reclaims prior runs' out_N/ckpt_N, keeps " +
    "everything else") {
    val base = Files.createTempDirectory("graft_rundir_spec").toFile
    val own = Seq(ConnectorQueries.runDir(base, "out", 3),
      ConnectorQueries.runDir(base, "ckpt", 3),
      ConnectorQueries.runDir(base, "ckpt", 12))
    // run dirs this process did not create — another token's, or an
    // untokened one from an older build — may be a concurrent process's
    // live checkpoint and must survive
    val other = Seq("out_0ther_3", "ckpt_0ther_12", "ckpt_7")
      .map(new File(base, _))
    (own ++ other :+ new File(base, "in")).foreach { d =>
      d.mkdirs()
      Files.write(new File(d, "f").toPath, Array[Byte](1))
    }
    ConnectorQueries.cleanStreamRunDirs(base)
    own.foreach(d => assert(!d.exists(), s"$d should be reclaimed"))
    other.foreach(d => assert(d.exists(), s"$d belongs to another process"))
    assert(new File(base, "in").exists(), "non-run dirs are untouched")
  }
}
