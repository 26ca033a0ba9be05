package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, StatefulProcessor, TimeMode, TimerValues, TTLConfig, ValueState}

/** Mergeable heavy-hitters buffer: at most k item counters plus a global
  * `offset` of purged mass. An item's estimate is `count + offset` and its
  * error bound is `offset`, giving the overestimate-only guarantee
  * `est ≥ true ≥ est − err` for every retained item.
  *
  * This is the Misra-Gries summary with an explicit offset — the form
  * Agarwal et al. ("Mergeable Summaries", PODS'12) prove isomorphic to
  * SpaceSaving and, crucially, MERGEABLE: merge sums the per-item counts
  * and the offsets, then purges back to k counters. The naive
  * evict-and-inherit SpaceSaving merge is NOT safe — an item evicted on
  * one side but still present on the other loses its folded-in mass and
  * can under-estimate (caught by PropertySpec's scalacheck merge
  * property). Purging subtracts the (k+1)-th largest count from every
  * counter and drops the non-positive remainder; the subtracted mass
  * moves into `offset`, so every surviving `est = count + offset` is
  * invariant under the purge.
  *
  * Batch heavy hitters use Spark's `approx_top_k`; this buffer stays for
  * the streaming state because its bytes are the processor's state
  * format and because it holds any k — DataSketches' `ItemsSketch`
  * behind `approx_top_k` has a minimum map size of 8, so it cannot keep
  * a k=2 sketch.
  */
final class SpaceSavingBuffer(val k: Int) {
  // item → Array(localCount); est = localCount + offset
  val m = new java.util.HashMap[String, Array[Long]]()
  var offset: Long = 0L

  def add(item: String): Unit = {
    val cur = m.get(item)
    if (cur != null) cur(0) += 1
    else { m.put(item, Array(1L)); if (m.size > k) trim() }
  }

  def mergeIn(other: SpaceSavingBuffer): Unit = {
    offset += other.offset
    val it = other.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cur = m.get(e.getKey)
      if (cur != null) cur(0) += e.getValue()(0)
      else m.put(e.getKey, e.getValue().clone())
    }
    if (m.size > k) trim()
  }

  /** Misra-Gries decrement step: subtract the (k+1)-th largest count from
    * every counter, drop the non-positive, move the mass into `offset`.
    */
  def trim(): Unit = if (m.size > k) {
    val counts = new Array[Long](m.size)
    var i = 0
    val vit = m.values().iterator()
    while (vit.hasNext) { counts(i) = vit.next()(0); i += 1 }
    java.util.Arrays.sort(counts)
    val cut = counts(counts.length - 1 - k) // (k+1)-th largest
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      e.getValue()(0) -= cut
      if (e.getValue()(0) <= 0L) it.remove()
    }
    offset += cut
  }

  /** (item, est, err) sorted by est desc, item asc. */
  def sorted: Seq[(String, Long, Long)] = {
    import scala.jdk.CollectionConverters._
    m.entrySet().asScala.toSeq
      .map(e => (e.getKey, e.getValue()(0) + offset, offset))
      .sortBy { case (item, est, _) => (-est, item) }
  }
}

object SpaceSavingBuffer {
  /** Wire format of the streaming processor's ValueState. */
  def toBytes(buf: SpaceSavingBuffer): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeLong(buf.offset)
    out.writeInt(buf.m.size)
    val it = buf.m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      out.writeUTF(e.getKey); out.writeLong(e.getValue()(0))
    }
    out.flush(); bos.toByteArray
  }

  def fromBytes(bytes: Array[Byte], k: Int): SpaceSavingBuffer = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val buf = new SpaceSavingBuffer(k)
    buf.offset = in.readLong()
    val n = in.readInt()
    var i = 0
    while (i < n) {
      buf.m.put(in.readUTF(), Array(in.readLong())); i += 1
    }
    buf
  }
}

/** Streaming heavy-hitters: a SpaceSaving sketch maintained across
  * micro-batches via `transformWithState` (reference analog: the serving
  * layer's "top cities" loops, server.py:52-77, as continuous state).
  *
  * 100 TB shape: a single global sketch key would funnel the whole stream
  * through one task. Instead the stream is SHARDED BY ITEM HASH into
  * `shards` state keys — the same item always routes to the same shard,
  * so per-item counts are never split across sketches and each shard's
  * overestimate-only bound (`est ≥ true ≥ est − err`) is preserved.
  * Each micro-batch every touched shard emits its current top entries;
  * the global top-k is a query-side merge (tiny: shards × k rows,
  * sort+take) — the same merge a batch aggregate's partials take, but
  * with state that lives across batches.
  */
object StreamingTopK {

  case class TopEntry(shard: Int, item: String, est: Long, err: Long)

  final class Processor(k: Int)
      extends StatefulProcessor[Int, String, TopEntry] {

    @transient private var sketch: ValueState[Array[Byte]] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sketch = getHandle.getValueState[Array[Byte]](
        "sketch", Encoders.BINARY, TTLConfig.NONE)

    override def handleInputRows(key: Int, rows: Iterator[String],
        timerValues: TimerValues): Iterator[TopEntry] = {
      val buf =
        if (sketch.exists()) SpaceSavingBuffer.fromBytes(sketch.get(), k)
        else new SpaceSavingBuffer(k)
      rows.foreach(buf.add)
      sketch.update(SpaceSavingBuffer.toBytes(buf))
      buf.sorted.iterator.map { case (item, est, err) => TopEntry(key, item, est, err) }
    }
  }

  /** items → per-shard running top entries (update mode). Global top-k =
    * sort the latest per-item rows by est desc and take k — shard routing
    * by item hash guarantees one row per item per batch.
    */
  def run(items: Dataset[String], k: Int = 64, shards: Int = 16): Dataset[TopEntry] = {
    import items.sparkSession.implicits._
    items
      .groupByKey(item => (item.hashCode & Int.MaxValue) % shards)
      .transformWithState(new Processor(k), TimeMode.None(), OutputMode.Update())
  }
}
