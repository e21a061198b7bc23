package graft

import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** Spark's codegen cache holds graft's working set: a repeated query
  * mix reuses its compiled classes instead of compiling them again (and
  * then JIT-compiling them again). The compile counter and the cache are
  * JVM-wide, shared with every suite that ran before this one. */
class CodegenCacheSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"
  private val mix = Seq("q3_hashtag_explode", "q18_text_stats", "q18i_repetition",
    "q16_exact_dedup", "q16c_simhash_neardup", "q17_cosine_topk", "q17j_pq_topk")

  private def compiles(run: => Unit): Long = {
    val before = GraftSession.codegenCompiles()
    run
    GraftSession.codegenCompiles() - before
  }

  private def round(): Long =
    compiles(mix.foreach(q => SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()))

  test("the counter counts a class whose source is unique to this suite") {
    assert(compiles(spark.range(3).select(col("id") * lit(7340033517L))
      .write.format("noop").mode("overwrite").save()) > 0)
  }

  test("the corpus mix compiles nothing on a round after the first") {
    round() // loads the mix, whatever earlier suites left in the cache
    // a class compiled on another thread (a stream some suite left
    // running) can land in any one round; a mix that overflows the
    // cache recompiles on every round, so one clean round of three
    // shows that it fits
    val rounds = Seq.fill(3)(round())
    assert(rounds.contains(0L), s"compiles per round: $rounds")
  }
}
