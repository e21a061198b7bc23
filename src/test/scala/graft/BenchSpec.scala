package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Replay

/** `graft.Bench`'s pass runner and its recall stamps, on the shared
  * test session: the runner's two timed passes, min-of-two and failure
  * reporting, the per-pass replay of memoized harnesses,
  * and one recall computation behind both the bench summary and the
  * bound checks. */
class BenchSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  test("a list run times two passes, reports each query's min, and -1 for a query that throws") {
    val boom: (SparkSession, String) => DataFrame = (_, _) => throw new RuntimeException("boom")
    val queries = Seq("q1_scan_filter", "q3_hashtag_explode").map(n => n -> SparkEntry.queries(n)) :+
      ("spec_throws" -> boom)
    val p = Bench.timePasses(spark, sf, queries)
    val names = queries.map(_._1)
    assert(p.pass1.map(_._1) == names && p.pass2.map(_._1) == names)
    assert(p.starts1.map(_._1) == names && p.starts2.map(_._1) == names)
    Seq("warmup", "pass1", "pass2").foreach(l => assert(p.gc.contains("\"" + l + "\":{\"gc_ms\":")))
    assert(p.compiles.matches("""\{"warmup":\d+,"pass1":\d+,"pass2":\d+\}"""), p.compiles)
    val (p1, p2, res) = (p.pass1.toMap, p.pass2.toMap, p.results.toMap)
    Seq("q1_scan_filter", "q3_hashtag_explode").foreach { n =>
      assert(p1(n) > 0 && p2(n) > 0)
      assert(res(n) == math.min(p1(n), p2(n)))
    }
    assert(p1("spec_throws") == -1.0 && p2("spec_throws") == -1.0 && res("spec_throws") == -1.0)
  }

  test("each pass re-runs a memoized harness's replay") {
    var replays = 0
    val memoized: (SparkSession, String) => DataFrame = (s, d) => {
      Replay.memo("spec-bench", d) { replays += 1 }
      s.range(1).toDF()
    }
    Bench.timePasses(spark, sf, Seq("spec_memoized" -> memoized))
    assert(replays == 3, "warmup + two timed passes must each run the replay")
    Replay.evict(sf, "spec-bench")
  }

  test("the bench's primary recall stamps equal the bound checks' within values") {
    val (stamps, curve) = Bench.recallStamps(spark, sf)
    val primary = Bounds.annRungs.map(_._1) :+ "q17i_hybrid_indexed"
    assert(stamps.map(_._1).take(primary.size) == primary)
    assert(curve.map(_._1) == Seq("q17c_ivf_topk@np1of8", "q17c_ivf_topk@np1of4",
      "q17c_ivf_topk@np1of2", "q17j_pq_topk@sl150", "q17j_pq_topk@sl300", "q17j_pq_topk@sl600"))
    val within = Bounds.all(spark, sf).map(c => c.name -> c.within).toMap
    assert(stamps.take(primary.size).toMap == primary.map(n => n -> within(n)).toMap)
  }
}
