package graft.plans

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_COL,
  REPARTITION_BY_NUM, ShuffleExchangeExec, ShuffleOrigin}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, TestSpark}
import graft.SparkJobs.jobsOf

/** [[SmallSortPartitioning]]: a small global sort is planned at one range
  * partition and launches no range-sampling job; large inputs, placed
  * range repartitions and sessions without AQE partition coalescing keep
  * the stock plan; and no query's rows or their order depend on it. */
class SmallSortPartitioningSpec extends AnyFunSuite with AdaptiveSparkPlanHelper {
  private lazy val spark = TestSpark.spark
  private val Coalesce = "spark.sql.adaptive.coalescePartitions.enabled"

  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", "5")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  /** (partitions, origin) of every range exchange in `df`'s executed
    * plan — under AQE, the final plan of its last execution. */
  private def rangeExchanges(df: Dataset[_]): Seq[(Int, ShuffleOrigin)] =
    collect(df.queryExecution.executedPlan) {
      case s: ShuffleExchangeExec if s.outputPartitioning.isInstanceOf[RangePartitioning] =>
        (s.outputPartitioning.numPartitions, s.shuffleOrigin)
    }

  private def smallSort(s: SparkSession): DataFrame =
    s.range(0, 400, 1, 4).select((col("id") * 7 % 400).as("k"), (col("id") % 3).as("g"))
      .groupBy("g").agg(sum("k").as("s"), count(lit(1)).as("n"))
      .orderBy(col("s").desc)

  test("a small orderBy plans one range partition and launches no sampling job") {
    val ruled = smallSort(session())
    val stock = smallSort(session(Coalesce -> "false"))
    val (got, jobs) = jobsOf("small-sort")(ruled.collect().toSeq)
    val (want, stockJobs) = jobsOf("small-sort-stock")(stock.collect().toSeq)
    assert(rangeExchanges(ruled) == Seq((1, ENSURE_REQUIREMENTS)))
    assert(rangeExchanges(stock) == Seq((5, ENSURE_REQUIREMENTS)))
    // the stock plan's extra job is its RangePartitioner's sample
    assert(jobs == stockJobs - 1, s"$jobs jobs with the rule, $stockJobs without")
    assert(got == want)
  }

  test("an input estimated above minPartitionSize keeps spark.sql.shuffle.partitions") {
    val s = session()
    val df = s.range(0, 200000, 1, 4).toDF().orderBy(col("id").desc)
    val minSize = s.conf.get("spark.sql.adaptive.coalescePartitions.minPartitionSize")
    assert(df.queryExecution.optimizedPlan.stats.sizeInBytes >
      org.apache.spark.network.util.JavaUtils.byteStringAsBytes(minSize))
    val rows = df.collect()
    assert(rows.head.getLong(0) == 199999L && rows.last.getLong(0) == 0L)
    assert(rangeExchanges(df) == Seq((5, ENSURE_REQUIREMENTS)))
  }

  test("repartitionByRange keeps the partition count it was given") {
    val s = session()
    val byNum = s.range(0, 200).repartitionByRange(3, col("id"))
    byNum.collect()
    assert(rangeExchanges(byNum) == Seq((3, REPARTITION_BY_NUM)))
    val byCol = s.range(0, 200).repartitionByRange(col("id"))
    byCol.collect()
    assert(rangeExchanges(byCol) == Seq((5, REPARTITION_BY_COL)))
  }

  test("with AQE off or partition coalescing off the plan is the stock one") {
    for (confs <- Seq(Seq("spark.sql.adaptive.enabled" -> "false"), Seq(Coalesce -> "false"))) {
      val df = smallSort(session(confs: _*))
      df.collect()
      assert(rangeExchanges(df) == Seq((5, ENSURE_REQUIREMENTS)), confs.toString)
    }
  }

  test("partition invariance: the corpus_batch mix, q8 and q16b return the same rows in the same order with and without the rule") {
    val dir = "/root/testdata/sf0.001"
    val queries = Seq("q3_hashtag_explode", "q18_text_stats", "q18i_repetition",
      "q16_exact_dedup", "q16c_simhash_neardup", "q17_cosine_topk", "q17j_pq_topk",
      "q8_running_count", "q16b_minhash_neardup")
    val (ruled, stock) = (session(), session(Coalesce -> "false"))
    var fired = 0
    for (q <- queries) {
      val df = SparkEntry.queries(q)(ruled, dir)
      val got = df.collect().toSeq
      if (rangeExchanges(df).contains((1, ENSURE_REQUIREMENTS))) fired += 1
      val want = SparkEntry.queries(q)(stock, dir).collect().toSeq
      assert(got.nonEmpty, q)
      assert(got == want, s"$q: rows or their order differ with the rule")
    }
    assert(fired >= 5, s"the rule planned a one-partition sort in only $fired queries")
  }
}
