package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Bounded top-k typed Aggregators — the reference's custom UDAF surface
  * (O11, TrendingHashTagAggregator at
  * TwitterDatasetTrendingHashtag.java:140-210) re-principled:
  *
  *  - typed case-class IN (never `GenericRowWithSchema` — taking raw rows
  *    is what forced the reference to disable whole-stage codegen, S:58);
  *  - a bounded k-element buffer (the reference's buffer was an unbounded
  *    tag→count map — O(distinct keys) state; this is O(k));
  *  - associative + commutative merge → Spark plans partial aggregation,
  *    so only k rows per group per partition ever cross the shuffle;
  *  - deterministic tie-break (cnt desc, tag asc) — the reference's
  *    argmax depended on HashMap iteration order (S:187-196).
  *
  * Reduce cost (VERDICT r5 #4): `reduce` NEVER sorts. Below k elements it
  * appends; at capacity it does one O(k) scan for the current worst and
  * replaces it only if the incoming row beats it — the aggregation's
  * inner loop is allocation-free comparisons, not a per-row
  * O(k log k) sort+alloc. The buffer stays UNSORTED until `merge`
  * overflows or `finish` — each sorts at most once per partition /
  * group. `sortPasses` is test-visible so TopKSpec can pin this.
  */
case class TagCount(tag: String, cnt: Long)
case class HashedDoc(lang: String, fp: Long, doc_id: Long)
/** Output bean of [[TrendingArgMax]]. */
case class Top1(top_type: String, cnt: Long)

/** Shared bounded-buffer machinery; `ord` sorts best-first. */
abstract class BoundedTopK[T](k: Int, ord: Ordering[T]) extends Aggregator[T, Seq[T], Seq[T]] {
  /** Sort invocations — observable by TopKSpec to assert the reduce
    * path stays sort-free (driver-side direct calls only; the field is
    * not meaningful across executor serialization). */
  @transient var sortPasses: Int = 0
  private def sortedTake(xs: Seq[T]): Seq[T] = {
    sortPasses += 1
    xs.sorted(ord).take(k)
  }
  final override def zero: Seq[T] = Vector.empty
  final override def reduce(b: Seq[T], a: T): Seq[T] =
    if (b.size < k) b :+ a
    else {
      var worst = 0
      var i = 1
      while (i < b.size) { if (ord.gt(b(i), b(worst))) worst = i; i += 1 }
      if (ord.lt(a, b(worst))) b.updated(worst, a) else b
    }
  final override def merge(b1: Seq[T], b2: Seq[T]): Seq[T] = {
    val c = b1 ++ b2
    if (c.size <= k) c else sortedTake(c)
  }
  final override def finish(r: Seq[T]): Seq[T] = sortedTake(r)
}

/** Bottom-k docs by (fp asc, doc_id asc) — deterministic content-hash
  * stratified sampling: the k docs whose fingerprint sorts lowest
  * within each stratum. Same bounded-buffer/partial-agg properties as
  * [[TopKCounts]]: only k rows per group per partition cross the
  * shuffle, never the stratum (a per-group `row_number` window would
  * shuffle every row into as few partitions as there are strata). */
class BottomKByHash(k: Int)
    extends BoundedTopK[HashedDoc](k, Ordering.by((x: HashedDoc) => (x.fp, x.doc_id))) {
  override def bufferEncoder: Encoder[Seq[HashedDoc]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[HashedDoc]]()
  override def outputEncoder: Encoder[Seq[HashedDoc]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[HashedDoc]]()
}

/** Top-k (tag, cnt) pairs by (cnt desc, tag asc) — trending top-k. */
class TopKCounts(k: Int)
    extends BoundedTopK[TagCount](k, Ordering.by((t: TagCount) => (-t.cnt, t.tag))) {
  override def bufferEncoder: Encoder[Seq[TagCount]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TagCount]]()
  override def outputEncoder: Encoder[Seq[TagCount]] = org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[TagCount]]()
}

/** The reference's trending argmax UDAF run AS A STREAMING AGGREGATION
  * (TrendingHashTagAggregator, TwitterDatasetTrendingHashtag.java:140-210;
  * applied in-stream at S:81): the buffer is a tag→count map merged
  * incrementally across triggers by the state store, `finish` returns the
  * current argmax with a deterministic tie-break (cnt desc, tag asc —
  * the reference's HashMap-iteration argmax was order-dependent).
  *
  * Buffer size is O(distinct tags per window) — exactly the reference's
  * state contract. That is the right bound for low-cardinality keys
  * (event types, language codes); for open vocabularies at 100 TB the
  * bounded [[TopKCounts]] over pre-counted pairs is the scale path
  * (SURVEY §2.1 O11). Used by q20h under watermark + update mode. */
class TrendingArgMax extends Aggregator[TagCount, Map[String, Long], Top1] {
  override def zero: Map[String, Long] = Map.empty
  override def reduce(b: Map[String, Long], a: TagCount): Map[String, Long] =
    b.updated(a.tag, b.getOrElse(a.tag, 0L) + a.cnt)
  override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] =
    b2.foldLeft(b1) { case (m, (t, c)) => m.updated(t, m.getOrElse(t, 0L) + c) }
  override def finish(m: Map[String, Long]): Top1 = {
    val (t, c) = m.minBy { case (t, c) => (-c, t) }
    Top1(t, c)
  }
  override def bufferEncoder: Encoder[Map[String, Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  override def outputEncoder: Encoder[Top1] = Encoders.product[Top1]
}
