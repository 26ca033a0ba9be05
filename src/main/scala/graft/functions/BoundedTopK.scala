package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Exact distributed top-k by (key DESC, id ASC) as a typed
  * [[Aggregator]] — the scale-true substitute for a ranking window
  * (`row_number() OVER ([PARTITION BY g] ORDER BY key DESC, id) <= k`).
  *
  * The window form shuffles EVERY row to its group's partition (or, with
  * no partitioning, funnels the whole scored set into ONE task) before
  * discarding all but k. This aggregator's partial (map-side) aggregate
  * caps every partition's contribution at k rows per group BEFORE the
  * shuffle, the final merge heap-merges ≤ k×partitions rows, and
  * `posexplode` of the sorted output yields the rank — identical results
  * (the top-k of a union IS the top-k of the local top-k's under a
  * strict total order), no corpus-sized sort anywhere.
  *
  * Callers map their order onto (key desc, id asc):
  *  - ranking scores ride as SCALED LONGS: every graft ranking score is
  *    either an exact DECIMAL(18,6) (BM25/RRF sums — the unscaled value
  *    IS the long), a 6-dp-rounded double (cosine — `round(x*1e6)`
  *    recovers the integer exactly) or an integer distance, so long
  *    comparison reproduces the engine-independent decimal order
  *    bit-for-bit; they pass a constant payload;
  *  - "keep the last K rows per key" (reference:
  *    visualization-server/public/index.html:336-339 `slice(-100)`)
  *    passes `unix_micros(ts)` as the key and `-event_id` as the id, so
  *    (key desc, id asc) is (ts desc, event_id desc), and carries the
  *    row's value as the payload.
  * Ids are unique per group, making the order STRICT — merge order can
  * never change the result.
  *
  * Buffer = parallel primitive arrays as a bounded min-heap whose root
  * is the worst kept row, so a full buffer rejects a worse row with one
  * comparison and otherwise replaces the root in O(log k) with ZERO
  * steady-state allocation. (An earlier immutable sorted-List buffer was
  * O(k) cons-rebuild per row on time-ascending input — ~60M allocated
  * cells per sf0.1 pass — and collapsed under GC pressure.)
  */
object BoundedTopK {

  case class In(key: Long, id: Long, payload: Double)

  /** Min-heap (root = worst) of fixed capacity k, `n` live entries.
    * Mutated in place by the aggregator (ObjectHashAggregate keeps
    * buffers as objects between rows; encoding only happens at the
    * shuffle boundary).
    */
  case class Buf(var n: Int, key: Array[Long], id: Array[Long], payload: Array[Double])

  /** Strict total order: (k1,i1) ranks WORSE than (k2,i2) iff lower
    * key, or equal key and higher id.
    */
  private def worse(k1: Long, i1: Long, k2: Long, i2: Long): Boolean =
    k1 < k2 || (k1 == k2 && i1 > i2)

  def agg(k: Int): Aggregator[In, Buf, Seq[In]] =
    new Aggregator[In, Buf, Seq[In]] {

      private def siftUp(b: Buf, from: Int): Unit = {
        var j = from
        val s = b.key(j); val i = b.id(j); val x = b.payload(j)
        while (j > 0 && worse(s, i, b.key((j - 1) >> 1), b.id((j - 1) >> 1))) {
          val p = (j - 1) >> 1
          b.key(j) = b.key(p); b.id(j) = b.id(p); b.payload(j) = b.payload(p)
          j = p
        }
        b.key(j) = s; b.id(j) = i; b.payload(j) = x
      }

      private def siftDown(b: Buf): Unit = {
        var j = 0
        val s = b.key(0); val i = b.id(0); val x = b.payload(0)
        var done = false
        while (!done) {
          var c = 2 * j + 1
          if (c >= b.n) done = true
          else {
            if (c + 1 < b.n && worse(b.key(c + 1), b.id(c + 1), b.key(c), b.id(c))) c += 1
            if (worse(b.key(c), b.id(c), s, i)) {
              b.key(j) = b.key(c); b.id(j) = b.id(c); b.payload(j) = b.payload(c)
              j = c
            } else done = true
          }
        }
        b.key(j) = s; b.id(j) = i; b.payload(j) = x
      }

      private def insert(b: Buf, s: Long, i: Long, x: Double): Buf = {
        if (b.n < k) {
          b.key(b.n) = s; b.id(b.n) = i; b.payload(b.n) = x
          b.n += 1
          siftUp(b, b.n - 1)
        } else if (worse(b.key(0), b.id(0), s, i)) {
          b.key(0) = s; b.id(0) = i; b.payload(0) = x
          siftDown(b)
        }
        b
      }

      override def zero: Buf =
        Buf(0, new Array[Long](k), new Array[Long](k), new Array[Double](k))

      override def reduce(b: Buf, a: In): Buf = insert(b, a.key, a.id, a.payload)

      override def merge(b1: Buf, b2: Buf): Buf = {
        var j = 0
        while (j < b2.n) { insert(b1, b2.key(j), b2.id(j), b2.payload(j)); j += 1 }
        b1
      }

      /** Best-first: rank r = element r-1 after (key desc, id asc). */
      override def finish(b: Buf): Seq[In] =
        Array.tabulate(b.n)(j => In(b.key(j), b.id(j), b.payload(j)))
          .sortBy(r => (-r.key, r.id)).toSeq

      override def bufferEncoder: Encoder[Buf] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Buf]()
      override def outputEncoder: Encoder[Seq[In]] =
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[In]]()
    }
}
