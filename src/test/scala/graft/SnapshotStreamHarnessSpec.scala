package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.RelationalQueries
import graft.streaming.StreamingPipelines

/** The snapshot-stream harnesses (q26u and the q28 family) against
  * their batch equivalents, computed in Spark over the flat corpus at
  * sf0.001. Each harness commits versions to a snapshot table while a
  * stream consumes (or writes) it; the drained answer must equal the
  * batch answer over `Tables.load`, so a lost version, a re-drained
  * fold or a mis-bound schema fails here and not only in the oracle. */
class SnapshotStreamHarnessSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  private def events: DataFrame = Tables.load(spark, dir, "events")

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq

  /** The per-`event_type` rollup q26u, q28, q28l, q28q and q28j answer. */
  private def typeRollup: Seq[Row] = rows(events
    .groupBy(col("event_type"))
    .agg(count(lit(1)).as("n_events"),
      countDistinct(col("user_id")).as("n_users"),
      sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
      max(col("ts")).as("max_ts"))
    .orderBy("event_type"))

  private def assertRollup(got: DataFrame): Unit = {
    val want = typeRollup
    assert(want.nonEmpty)
    assert(rows(got) == want)
  }

  test("q26u incremental drain equals the batch event_type rollup") {
    assertRollup(StreamingPipelines.q26uStreamIncremental(spark, dir))
  }

  test("q28l catalog-bound drain equals the batch event_type rollup") {
    assertRollup(StreamingPipelines.q28lSqlStreamRead(spark, dir))
  }

  test("q28 drain across a mid-stream compaction equals the batch event_type rollup") {
    assertRollup(StreamingPipelines.q28StreamCompactSkip(spark, dir))
  }

  test("q28q restarted streaming write equals the batch event_type rollup") {
    assertRollup(StreamingPipelines.q28qSqlStreamWrite(spark, dir))
  }

  test("q28j renamed-table drain equals the batch rollup under val_amt") {
    val got = StreamingPipelines.q28jStreamRenamed(spark, dir)
    assert(got.columns.toSeq ==
      Seq("event_type", "n_events", "n_users", "sum_val_amt", "max_ts"))
    assertRollup(got)
  }

  test("q28b and q28o CDC feeds resolve to the batch q25 upsert") {
    val want = rows(RelationalQueries.q25CdcUpsert(spark, dir))
    assert(want.nonEmpty)
    assert(rows(StreamingPipelines.q28bStreamCdcFeed(spark, dir)) == want)
    assert(rows(StreamingPipelines.q28oSqlCdcFeed(spark, dir)) == want)
  }

  test("q28t update-mode streaming write equals the batch per-user aggregate") {
    val want = rows(events
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"),
        max(col("ts")).as("max_ts"))
      .orderBy("user_id"))
    assert(want.nonEmpty)
    assert(rows(StreamingPipelines.q28tSqlStreamUpdate(spark, dir)) == want)
  }

  /** Rows of `got` tagged `src`, without the tag. */
  private def bySrc(got: Seq[Row], src: String): Seq[Row] =
    got.filter(_.getString(0) == src).map(r => Row(r.get(1), r.get(2), r.get(3)))

  /** The per-type (n_events, sum_value) rollup of the corpus minus the
    * rows `deleted` selects; `deleted` gets the id-decile cut points the
    * q28f/q28k harnesses use. */
  private def keptRollup(deleted: (Int => Long) => Column): Seq[Row] = {
    val b = events.agg(min(col("event_id")), max(col("event_id"))).head()
    val (lo, hi) = (b.getLong(0), b.getLong(1))
    val cut = (k: Int) => lo + k * (hi - lo) / 10
    rows(events.where(!deleted(cut))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,4)")).cast("double").as("sum_value"))
      .orderBy("event_type"))
  }

  private def inDeciles(cut: Int => Long, from: Int, to: Int): Column =
    col("event_id") > cut(from) && col("event_id") <= cut(to)

  test("q28f MOR feed: feed rows equal the at-rest MOR rows, both the corpus minus deciles 4-6") {
    val want = keptRollup(cut => inDeciles(cut, 3, 6))
    assert(want.map(_.getLong(1)).sum < events.count())
    val got = rows(StreamingPipelines.q28fStreamMorFeed(spark, dir))
    assert(got.size == 2 * want.size)
    assert(bySrc(got, "feed") == want)
    assert(bySrc(got, "mor") == want)
  }

  test("q28k DV feed: feed rows equal the at-rest DV rows, both the corpus minus the deleted cohorts") {
    val want = keptRollup(cut =>
      (col("event_type") === "click" && inDeciles(cut, 3, 4)) ||
      (col("event_type") === "purchase" && inDeciles(cut, 4, 5)) ||
      (col("event_type") === "click" && inDeciles(cut, 5, 6)))
    assert(want.map(_.getLong(1)).sum < events.count())
    val got = rows(StreamingPipelines.q28kStreamDvFeed(spark, dir))
    assert(got.size == 2 * want.size)
    assert(bySrc(got, "feed") == want)
    assert(bySrc(got, "dv") == want)
  }
}
