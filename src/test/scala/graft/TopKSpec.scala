package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.functions.{TagCount, TopKCounts}

/** UDAF laws (O11 re-principled): the merge the reference's Aggregator
  * must satisfy (S:153-180) — associativity/commutativity — plus
  * permutation invariance and the deterministic tie-break. Properties
  * are checked over seeded random inputs (deterministic runs). */
class TopKSpec extends AnyFunSuite {

  private val agg = new TopKCounts(3)
  private def run(xs: Seq[TagCount]): Seq[TagCount] =
    agg.finish(xs.foldLeft(agg.zero)(agg.reduce))

  private def randomTags(rnd: Random): Seq[TagCount] =
    Seq.fill(rnd.nextInt(30))(TagCount(("a" + ('a' + rnd.nextInt(7)).toChar), rnd.nextInt(100).toLong))

  test("top-k with deterministic tie-break (cnt desc, tag asc)") {
    val in = Seq(TagCount("b", 5), TagCount("a", 5), TagCount("c", 9), TagCount("d", 1))
    assert(run(in) == Seq(TagCount("c", 9), TagCount("a", 5), TagCount("b", 5)))
  }

  test("permutation invariance (100 seeded trials)") {
    for (seed <- 1 to 100) {
      val rnd = new Random(seed)
      val xs = randomTags(rnd)
      assert(run(xs) == run(rnd.shuffle(xs)), s"seed=$seed")
    }
  }

  test("merge is associative and commutative (partial-aggregation law)") {
    for (seed <- 1 to 100) {
      val rnd = new Random(seed)
      val (pa, pb, pc) = (run(randomTags(rnd)), run(randomTags(rnd)), run(randomTags(rnd)))
      assert(agg.finish(agg.merge(agg.merge(pa, pb), pc)) ==
             agg.finish(agg.merge(pa, agg.merge(pb, pc))), s"assoc seed=$seed")
      assert(agg.finish(agg.merge(pa, pb)) == agg.finish(agg.merge(pb, pa)), s"comm seed=$seed")
    }
  }

  test("merge of partials equals single pass (split invariance)") {
    for (seed <- 1 to 100) {
      val rnd = new Random(seed)
      val xs = randomTags(rnd)
      val (l, r) = xs.splitAt(if (xs.isEmpty) 0 else rnd.nextInt(xs.size + 1))
      assert(agg.finish(agg.merge(
        l.foldLeft(agg.zero)(agg.reduce), r.foldLeft(agg.zero)(agg.reduce))) == run(xs),
        s"split seed=$seed")
    }
  }

  // ---- the ANN rankers' top-k: Spark's bounded CollectTopK behind
  // SimilarityQueries.rankedTopK, ranked score desc then id asc ----

  private type Scored = (Long, Long, Double) // (probe, id, score)

  /** The reference ranking: score desc then id asc under
    * `java.lang.Double.compare` with `-0.0` read as `0.0` (so the two
    * tie, `NaN` last), the first `k` per probe, ranked from 1, score
    * rounded like the ranker's output (`-0.0` rounds to `0.0`). */
  private def reference(xs: Seq[Scored], k: Int): Seq[(Long, Long, Long, String)] = {
    val ord = Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Long)
    xs.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (p, g) =>
      g.sortBy(s => (if (s._3 == 0.0) 0.0 else -s._3, s._2))(ord).take(k).zipWithIndex.map { case ((_, id, sc), i) =>
        (p, id, i + 1L, (if (sc.isNaN) sc else BigDecimal(sc).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble).toString)
      }
    }
  }

  private def ranked(xs: Seq[Scored], k: Int, partitions: Int = 1): Seq[(Long, Long, Long, String)] = {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = operators.SimilarityQueries.rankedTopK(
      xs.toDF("probe", "id", "score").repartition(partitions), k, "s")
    df.collect().toSeq.map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3).toString))
  }

  test("rankedTopK: score desc, id asc tie-break, bounded at k") {
    val xs = Seq[Scored]((0, 7, 0.5), (0, 3, 0.9), (0, 1, 0.5), (0, 9, 0.1))
    val out = ranked(xs, 2)
    assert(out == Seq((0L, 3L, 1L, "0.9"), (0L, 1L, 2L, "0.5")))
    assert(out == reference(xs, 2))
  }

  test("rankedTopK: k larger than the group returns the whole group, ranked") {
    val xs = Seq[Scored]((4, 2, 0.25), (4, 8, 0.75), (4, 5, 0.25))
    assert(ranked(xs, 10) == Seq((4L, 8L, 1L, "0.75"), (4L, 2L, 2L, "0.25"), (4L, 5L, 3L, "0.25")))
  }

  test("rankedTopK: -0.0 ties with 0.0 and breaks by id, NaN ranks last") {
    val xs = Seq[Scored]((1, 2, -0.0), (1, 5, 0.0), (1, 4, Double.NaN), (1, 8, -1.0),
      (1, 6, 0.0), (1, 3, Double.NaN))
    val out = ranked(xs, 10)
    assert(out.map(_._2) == Seq(2L, 5L, 6L, 8L, 3L, 4L))
    assert(out == reference(xs, 10))
    assert(ranked(xs, 3).map(_._2) == Seq(2L, 5L, 6L))
  }

  test("rankedTopK: partial buffers merged across partitions match the reference (50 seeded trials)") {
    val pool = Array(0.0, -0.0, Double.NaN, 0.5, -0.5, 0.25, 1.0, -1.0, 0.125)
    for (seed <- 1 to 50) {
      val rnd = new Random(seed)
      val xs = Seq.fill[Scored](1 + rnd.nextInt(60))(
        (rnd.nextInt(3).toLong, rnd.nextInt(1000).toLong, pool(rnd.nextInt(pool.length))))
        .distinctBy(s => (s._1, s._2))
      val k = 1 + rnd.nextInt(8)
      assert(ranked(xs, k, partitions = 4) == reference(xs, k), s"seed=$seed k=$k")
    }
  }

  test("rankedTopK plans Spark's native bounded aggregate, with no typed-encoder projections") {
    val spark = TestSpark.spark
    import spark.implicits._
    val df = operators.SimilarityQueries.rankedTopK(
      Seq[Scored]((0, 1, 0.5)).toDF("probe", "id", "score"), 5, "s")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("collect_top_k"), plan)
    Seq("DeserializeToObject", "AppendColumns", "SerializeFromObject")
      .foreach(n => assert(!plan.contains(n), s"$n in\n$plan"))
  }

  test("reduce never sorts: the hot path is bounded insertion (VERDICT r5 #4)") {
    val a = new TopKCounts(5)
    val rnd = new Random(42)
    val many = Seq.fill(10000)(TagCount("t" + rnd.nextInt(50), rnd.nextInt(1000).toLong))
    val buf = many.foldLeft(a.zero)(a.reduce)
    assert(a.sortPasses == 0, s"reduce path sorted ${a.sortPasses} times over 10k rows")
    assert(buf.size == 5)
    // finish sorts exactly once, and the bounded-insert buffer holds
    // the true top-5 of the stream
    val out = a.finish(buf)
    assert(a.sortPasses == 1)
    assert(out == many.sortBy(t => (-t.cnt, t.tag)).take(5))
  }

  test("TrendingArgMax: map-buffer argmax with deterministic tie-break") {
    val a = new graft.functions.TrendingArgMax
    val in = Seq(TagCount("b", 1), TagCount("a", 1), TagCount("b", 1),
                 TagCount("c", 2), TagCount("a", 1))
    val buf = in.foldLeft(a.zero)(a.reduce)
    // a=2, b=2, c=2 → tie broken by tag asc
    assert(a.finish(buf) == graft.functions.Top1("a", 2))
    // merge law: split anywhere, same answer
    val (l, r) = in.splitAt(2)
    assert(a.finish(a.merge(l.foldLeft(a.zero)(a.reduce), r.foldLeft(a.zero)(a.reduce))) ==
      a.finish(buf))
  }
}
