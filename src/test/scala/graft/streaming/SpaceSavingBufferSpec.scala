package graft.streaming

import org.scalatest.funsuite.AnyFunSuite

/** The mergeable heavy-hitters buffer behind [[StreamingTopK]]'s state. */
class SpaceSavingBufferSpec extends AnyFunSuite {

  test("exact regime (distinct <= k): estimates are true counts, err 0") {
    val buf = new SpaceSavingBuffer(64)
    (1 to 1000).foreach(i => buf.add(s"u${i % 20}"))
    val rows = buf.sorted
    assert(rows.length === 20)
    assert(rows.forall(_._2 === 50L))
    assert(rows.forall(_._3 === 0L))
  }

  test("eviction regime: overestimate-only bound holds, heavy hitter ranks first") {
    // skewed single-partition stream: "hot" 500×, 50 cold items 10× each
    val items = scala.util.Random.shuffle(
      Seq.fill(500)("hot") ++ (1 to 50).flatMap(i => Seq.fill(10)(s"c$i")))
    val buf = new SpaceSavingBuffer(8)
    items.foreach(buf.add)
    val top = buf.sorted
    assert(top.head._1 === "hot", top.take(3).toString)
    // est >= true >= est - err for the survivor
    val (_, est, err) = top.head
    assert(est >= 500L && est - err <= 500L, s"est=$est err=$err")
    assert(buf.m.size <= 8)
  }

  test("merge: sums common counters, keeps global heavy hitters, bound survives") {
    val a = new SpaceSavingBuffer(8)
    val b = new SpaceSavingBuffer(8)
    (1 to 300).foreach(_ => a.add("hot"))
    (1 to 40).foreach(i => a.add(s"a$i"))   // evictions in a
    (1 to 200).foreach(_ => b.add("hot"))
    (1 to 40).foreach(i => b.add(s"b$i"))   // evictions in b
    a.mergeIn(b)
    val (item, est, err) = a.sorted.head
    assert(item === "hot")
    assert(est >= 500L, s"merged est must stay >= true 500, got $est")
    assert(est - err <= 500L, s"lower bound est-err=${est - err} must be <= 500")
    assert(a.m.size <= 8)
  }
}
