package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** In-memory spans recorded by the benchmark around each call into a
  * graft layer. A span has a name, a layer, start and end (nanoTime),
  * its parent span and the id of the op (query, DML op, micro-batch,
  * request) it belongs to. Spans are kept in memory and written out as
  * JSON lines when the run ends.
  *
  * Off (the untraced loop), `span` is a plain call: nothing is recorded.
  */
final class Trace {
  @volatile var enabled = false
  final case class Span(id: Long, parent: Long, op: String, layer: String,
      name: String, start: Long, end: Long)

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }
  /** nanoTime of the epoch, for spans built from listener wall clocks */
  private val epochNs: Long =
    System.nanoTime() - System.currentTimeMillis() * 1000000L

  def msToNs(epochMs: Long): Long = epochNs + epochMs * 1000000L

  /** Run `body` as a span of `layer`; the op id is inherited from the
    * enclosing span unless given.
    */
  def span[T](layer: String, name: String, op: String = null)(body: => T): T = {
    if (!enabled) return body
    val outer = stack.get()
    val id = ids.incrementAndGet()
    val opId = if (op != null) op else outer.headOption.map(_._2).getOrElse("-")
    val parent = outer.headOption.map(_._1).getOrElse(0L)
    stack.set((id, opId) :: outer)
    val t0 = System.nanoTime()
    try body
    finally {
      spans.add(Span(id, parent, opId, layer, name, t0, System.nanoTime()))
      stack.set(outer)
    }
  }

  /** Record a span measured elsewhere (a planning phase, a Spark job)
    * under the deepest span of `op` that contains it.
    */
  def add(op: String, layer: String, name: String, start: Long, end: Long): Unit =
    if (enabled) {
      val holders = spans.asScala.filter(s => s.op == op && s.start <= start && s.end >= end)
      val parent = if (holders.isEmpty) 0L else holders.maxBy(_.start).id
      spans.add(Span(ids.incrementAndGet(), parent, op, layer, name, start, end))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Per-layer self time in ms: each span's duration minus the part of
    * it that its children cover.
    */
  def selfMs: Map[String, Double] = {
    val all = this.all
    val kids = all.groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil)
          .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
          .filter { case (a, b) => b > a })
        (s.end - s.start - covered) / 1e6
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var cur: Option[(Long, Long)] = None
    iv.sortBy(_._1).foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, math.max(cb, b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    total + cur.map { case (a, b) => b - a }.getOrElse(0L)
  }

  def write(path: String): Unit = {
    val sb = new StringBuilder
    all.sortBy(_.start).foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":"${Json.esc(s.op)}",""")
        .append(s""""layer":"${s.layer}","name":"${Json.esc(s.name)}",""")
        .append(s""""start_ns":${s.start},"end_ns":${s.end}}""").append('\n')
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), sb.toString)
  }
}
