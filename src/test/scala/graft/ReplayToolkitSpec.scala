package graft

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{Replay, StreamingPipelines}

/** The streaming replay toolkit's contracts: a harness that fails
  * mid-start leaves the caller's session as it found it, the
  * checkpoints the toolkit creates do not outlive their queries, and
  * the replay memo serves one result per (harness, dataset) until it
  * is cleared or evicted. */
class ReplayToolkitSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("replay() on a dataset without customer.parquet throws and leaves the session as it found it") {
    val dir = Files.createTempDirectory("graft-eventsonly")
    Files.copy(Paths.get(sf, "events.parquet"), dir.resolve("events.parquet"))
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    val before = keys.map(spark.conf.getOption)
    intercept[Exception](StreamingPipelines.replay(spark, dir.toString))
    assert(keys.map(spark.conf.getOption) == before)
    assert(spark.streams.active.isEmpty)
  }

  test("drained and consumed harnesses leave no checkpoint dir behind (q16j, q28b)") {
    val tmp = Paths.get(sys.props("java.io.tmpdir"))
    def ckpts(): Set[String] =
      StreamingPipelines.listDir(tmp).map(_.getFileName.toString).filter(_.contains("ckpt")).toSet
    Replay.evict(sf, "ingest") // make q16j run its replay here
    val before = ckpts()
    assert(StreamingPipelines.q16jStreamIngestNearDup(spark, sf).count() >= 0L)
    assert(StreamingPipelines.q28bStreamCdcFeed(spark, sf).count() > 0L)
    assert(ckpts() -- before == Set.empty[String])
  }

  test("the memo runs a body once per (harness, dir); clearCache drops every entry") {
    var runs = 0
    def read(harness: String, dir: String): Int =
      Replay.memo(harness, dir) { runs += 1; runs }
    assert(read("spec-a", "d1") == 1)
    assert(read("spec-a", "d1") == 1)
    assert(read("spec-a", "d2") == 2)
    assert(read("spec-b", "d1") == 3)
    StreamingPipelines.clearCache()
    assert(read("spec-a", "d1") == 4)
    assert(read("spec-a", "d2") == 5)
    assert(read("spec-b", "d1") == 6)
  }

  test("evictCdcReplays and evictPqIngestReplay drop only their own entries") {
    val dir = "spec-evict-dir"
    val runs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val harnesses = Seq("cdcMerge", "cdcMor", "pqIngest", "ingest")
    def readAll(): Unit = harnesses.foreach(h => Replay.memo(h, dir) { runs(h) += 1 })
    readAll()
    StreamingPipelines.evictCdcReplays("spec-other-dir")
    readAll()
    assert(runs == Map("cdcMerge" -> 1, "cdcMor" -> 1, "pqIngest" -> 1, "ingest" -> 1))
    StreamingPipelines.evictCdcReplays(dir)
    readAll()
    assert(runs == Map("cdcMerge" -> 2, "cdcMor" -> 2, "pqIngest" -> 1, "ingest" -> 1))
    StreamingPipelines.evictPqIngestReplay(dir)
    readAll()
    assert(runs == Map("cdcMerge" -> 2, "cdcMor" -> 2, "pqIngest" -> 2, "ingest" -> 1))
    Replay.evict(dir, harnesses: _*)
  }
}
