package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Keep the k first elements of each group in one order, as a typed
  * [[Aggregator]]: the one bounded sorted-merge kernel behind
  * [[TopKAggregator]], [[MinKByKeyAggregator]] and [[KmvAggregator]].
  * A subclass supplies only its order ([[before]]), whether equal
  * elements collapse to one (`distinct`) and its buffer encoder.
  *
  * Buffers are kept sorted by `before` and truncated to k, so reduce and
  * merge are order-insensitive and the result is independent of
  * partitioning and merge order. Merge returns a Vector because
  * `reduce` reads the buffer's length and last element for every input
  * row, and on a List (what `toSeq` builds) each walks all k elements.
  * As a TypedImperativeAggregate it runs with map-side partial
  * aggregation: the shuffle carries at most k elements per (group,
  * mapper). Spark's own `row_number() <= k` gets the same bound from
  * `InferWindowGroupLimit` (a partial `WindowGroupLimit` before the
  * shuffle); ROADMAP direction 2 holds the measured comparison.
  */
abstract class BoundedK[T](k: Int, distinct: Boolean = false)
    extends Aggregator[T, Seq[T], Seq[T]] {
  require(k > 0)

  /** Is `a` strictly before `b` in the kept order? */
  protected def before(a: T, b: T): Boolean

  protected def seqEncoder: Encoder[Seq[T]]

  override def zero: Seq[T] = Nil

  override def reduce(buf: Seq[T], in: T): Seq[T] =
    if (buf.length == k && { val last = buf.last; before(last, in) || (distinct && last == in) }) buf
    else merge(buf, Vector(in))

  override def merge(a: Seq[T], b: Seq[T]): Seq[T] = {
    val out = new scala.collection.mutable.ArrayBuffer[T](k)
    var i = 0
    var j = 0
    while (out.length < k && (i < a.length || j < b.length)) {
      val next =
        if (j >= b.length || (i < a.length && before(a(i), b(j)))) { i += 1; a(i - 1) }
        else { j += 1; b(j - 1) }
      if (!distinct || out.isEmpty || out.last != next) out += next
    }
    out.toVector
  }

  override def finish(r: Seq[T]): Seq[T] = r
  override def bufferEncoder: Encoder[Seq[T]] = seqEncoder
  override def outputEncoder: Encoder[Seq[T]] = seqEncoder
}

/** One scored row: `v` ranks (higher is better), `id` breaks ties
  * (lower wins) and makes the result deterministic.
  */
case class Scored(v: Double, id: Long)

/** Bounded top-k per group: (v desc, id asc). */
class TopKAggregator(k: Int) extends BoundedK[Scored](k) {
  protected def before(a: Scored, b: Scored): Boolean =
    a.v > b.v || (a.v == b.v && a.id < b.id)
  protected def seqEncoder: Encoder[Seq[Scored]] = ExpressionEncoder()
}

object TopKAggregator {
  /** Column-level entry; the product encoder flattens [[Scored]], so the
    * call shape is `topK(3)(vCol, idCol)`.
    */
  def topK(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new TopKAggregator(k), Encoders.product[Scored])
}

/** One keyed row: `key` ranks (lexicographically smaller wins), `id`
  * breaks ties (lower wins) and makes the result deterministic.
  */
case class KeyedId(key: String, id: Long)

/** Bounded min-k per group by a STRING sort key, (key asc, id asc): for
  * hash-ranked selection (derandomized reservoir sampling ranks by
  * md5(text), which no double can hold faithfully). Because the FULL key
  * string is compared, the result is exactly the window formulation
  * `row_number() OVER (ORDER BY key, id) <= k`.
  */
class MinKByKeyAggregator(k: Int) extends BoundedK[KeyedId](k) {
  protected def before(a: KeyedId, b: KeyedId): Boolean = {
    val c = a.key.compareTo(b.key)
    c < 0 || (c == 0 && a.id < b.id)
  }
  protected def seqEncoder: Encoder[Seq[KeyedId]] = ExpressionEncoder()
}

object MinKByKeyAggregator {
  /** Column-level entry; the product encoder flattens [[KeyedId]], so
    * the call shape is `minKByKey(20)(keyCol, idCol)`.
    */
  def minKByKey(k: Int): org.apache.spark.sql.expressions.UserDefinedFunction =
    org.apache.spark.sql.functions.udaf(new MinKByKeyAggregator(k), Encoders.product[KeyedId])
}

/** Bounded K-Minimum-Values distinct-count sketch: the k smallest
  * DISTINCT 60-bit hash values seen, ascending (Bar-Yossef et al.,
  * "Counting distinct elements in a data stream"). Duplicates collapse
  * inside the sketch, so no distinct-shuffle of the full key set is
  * needed; the estimator `(k-1)·2^60 / h_(k)` needs only the k-th
  * minimum.
  */
class KmvAggregator(k: Int) extends BoundedK[Long](k, distinct = true) {
  protected def before(a: Long, b: Long): Boolean = a < b
  protected def seqEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}

object KmvAggregator {
  /** Column form: `kmv(k)(hashCol)` → ascending array of the k smallest
    * distinct hash values in the group.
    */
  def kmv(k: Int): org.apache.spark.sql.Column => org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.udaf(new KmvAggregator(k), Encoders.scalaLong)
      .apply(_)
}
