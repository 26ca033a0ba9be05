package graft

import org.scalacheck.{Gen, Properties}
import org.scalacheck.Prop.forAll

import graft.functions.BoundedTopK
import graft.operators.Dedup.MinHashKernel

/** Pure-JVM property tests of the engine's kernel functions (scalacheck;
  * SURVEY §5.4) — no SparkSession needed, so thousands of cases run in
  * milliseconds.
  */
object PropertySpec extends Properties("graft.kernels") {

  private val word = Gen.oneOf("spark", "batch", "row", "key", "join",
    "scan", "the", "a", "merge", "sort", "window", "stream")
  private val text = Gen.chooseNum(0, 40).flatMap(n => Gen.listOfN(n, word))
    .map(_.mkString(" "))

  property("shingles: count = max(tokens-2, 0) before dedup; all 3-word") =
    forAll(text) { t =>
      val toks = t.toLowerCase.split(' ')
      val sh = MinHashKernel.shingles(t)
      val expectedRaw = math.max(toks.length - 2, 0)
      sh.length <= expectedRaw &&
        (expectedRaw == 0 || sh.nonEmpty) &&
        sh.forall(_.split(' ').length == 3)
    }

  property("minhash bands: identical docs collide in every band") =
    forAll(text.suchThat(_.split(' ').length >= 3)) { t =>
      MinHashKernel.bandKeys(MinHashKernel.shingles(t)).toSeq ==
        MinHashKernel.bandKeys(MinHashKernel.shingles(t)).toSeq
    }

  property("minhash bands: band count and ids fixed") =
    forAll(text.suchThat(_.split(' ').length >= 3)) { t =>
      val b = MinHashKernel.bandKeys(MinHashKernel.shingles(t))
      b.length == MinHashKernel.NumBands &&
        b.map(_._1).toSeq == (0 until MinHashKernel.NumBands)
    }

  // ── bounded top-k heap: rows with DUPLICATE keys (0..20) and unique
  //    ids, fed in both of its callers' directions — rankings pass
  //    (score, id), keep-last passes (ts, -event_id) and reads the id
  //    back negated — with the payload riding along
  private val topK = 10
  private val topKAgg = BoundedTopK.agg(topK)

  private val rowsGen: Gen[List[(Long, Long)]] = for {
    keys <- Gen.listOf(Gen.chooseNum(0L, 20L))
    ids <- Gen.listOfN(keys.size, Gen.chooseNum(0L, 100000L))
  } yield keys.zip(ids).distinctBy(_._2)

  /** (key, id) rows in the heap's input form, per direction. */
  private def byScore(rows: Seq[(Long, Long)]) =
    rows.map { case (k, i) => BoundedTopK.In(k, i, i * 0.5) }
  private def byTime(rows: Seq[(Long, Long)]) =
    rows.map { case (t, e) => BoundedTopK.In(t, -e, e * 0.5) }

  private def reduced(ins: Seq[BoundedTopK.In]) =
    ins.foldLeft(topKAgg.zero)(topKAgg.reduce)

  property("topK reduce: bounded at K, finish desc, equals sort-take") =
    forAll(rowsGen) { rows =>
      val score = topKAgg.finish(reduced(byScore(rows)))
        .map(r => (r.key, r.id, r.payload))
      val time = topKAgg.finish(reduced(byTime(rows)))
        .map(r => (r.key, -r.id, r.payload))
      score.length <= topK && time.length <= topK &&
        score == rows.sortBy { case (k, i) => (-k, i) }.take(topK)
          .map { case (k, i) => (k, i, i * 0.5) } &&
        time == rows.sortBy { case (t, e) => (-t, -e) }.take(topK)
          .map { case (t, e) => (t, e, e * 0.5) }
    }

  property("topK merge: associative-equivalent to reducing the concatenation") =
    forAll(rowsGen, Gen.chooseNum(0, 100)) { (rows, cut) =>
      val (a, b) = rows.splitAt(cut)
      Seq(byScore _, byTime _).forall { dir =>
        topKAgg.finish(topKAgg.merge(reduced(dir(a)), reduced(dir(b)))) ==
          topKAgg.finish(reduced(dir(rows)))
      }
    }

  property("fnv1a: deterministic and spreads") =
    forAll(text, text) { (a, b) =>
      MinHashKernel.fnv1a(a) == MinHashKernel.fnv1a(a) &&
        (a == b || MinHashKernel.fnv1a(a) != MinHashKernel.fnv1a(b) || a.isEmpty)
    }

  // ── manifest stats skipping: a file is kept iff its [min,max] range
  //    intersects every required bound — never drop a file that could
  //    hold a matching row (the only unsafe direction)
  import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual, EqualTo, Literal}
  import org.apache.spark.sql.types.LongType
  import org.apache.spark.sql.graft.ManifestFileIndex

  private val boundVal = Gen.chooseNum(-1000L, 1000L)

  property("requiredBounds: every long in a file range satisfying the filters is inside the bounds") =
    forAll(boundVal, boundVal, boundVal) { (v1, v2, x) =>
      val a = AttributeReference("c", LongType)()
      val filters = Seq(
        GreaterThanOrEqual(a, Literal(math.min(v1, v2))),
        LessThanOrEqual(a, Literal(math.max(v1, v2))))
      val b = ManifestFileIndex.requiredBounds(filters)
      val (lo, hi) = b("c")
      val satisfies = x >= math.min(v1, v2) && x <= math.max(v1, v2)
      !satisfies || (x >= lo && x <= hi)
    }

  property("requiredBounds: strict comparisons tighten by one, equality pins") =
    forAll(boundVal) { v =>
      val a = AttributeReference("c", LongType)()
      ManifestFileIndex.requiredBounds(Seq(GreaterThan(a, Literal(v))))("c") ==
        ((v + 1, Long.MaxValue): (Long, Long)) &&
      ManifestFileIndex.requiredBounds(Seq(LessThan(a, Literal(v))))("c") ==
        ((Long.MinValue, v - 1): (Long, Long)) &&
      ManifestFileIndex.requiredBounds(Seq(EqualTo(a, Literal(v))))("c") ==
        ((v, v): (Long, Long))
    }

  // ── SpaceSaving: est ≥ true ≥ est − err for every retained item, under
  //    arbitrary insert sequences and random two-way merges
  import graft.streaming.SpaceSavingBuffer

  private val itemGen = Gen.oneOf("a", "b", "c", "d", "e", "f", "g", "h")

  property("SpaceSaving: overestimate-only bound holds after inserts and merge") =
    forAll(Gen.listOf(itemGen), Gen.listOf(itemGen)) { (xs, ys) =>
      val b1 = new SpaceSavingBuffer(3); xs.foreach(b1.add)
      val b2 = new SpaceSavingBuffer(3); ys.foreach(b2.add)
      b1.mergeIn(b2)
      val truth = (xs ++ ys).groupBy(identity).view.mapValues(_.size.toLong)
      b1.sorted.forall { case (item, est, err) =>
        val t = truth.getOrElse(item, 0L)
        est >= t && est - err <= t
      }
    }

  property("SpaceSaving: serialization round-trips") =
    forAll(Gen.listOf(itemGen)) { xs =>
      val b = new SpaceSavingBuffer(4); xs.foreach(b.add)
      val rt = SpaceSavingBuffer.fromBytes(SpaceSavingBuffer.toBytes(b), 4)
      rt.sorted == b.sorted
    }

  // ── KMV: the k smallest of a union of k-smallest subsets IS the k
  //    smallest of the union — merge is exactly lossless, so any split
  //    of the stream (partial aggregation) yields the single-pass state
  import graft.functions.KmvBuffer

  private val hashGen = Gen.chooseNum(Long.MinValue, Long.MaxValue)

  property("KMV: merge of any split equals the single-pass sketch") =
    forAll(Gen.listOf(hashGen), Gen.listOf(hashGen)) { (a, b) =>
      val whole = new KmvBuffer(8); (a ++ b).foreach(whole.add)
      val left = new KmvBuffer(8); a.foreach(left.add)
      val right = new KmvBuffer(8); b.foreach(right.add)
      left.mergeIn(right)
      left.set == whole.set && left.estimate == whole.estimate
    }

  property("KMV: insertion order never changes the state; exact below k") =
    forAll(Gen.listOf(hashGen)) { xs =>
      val fwd = new KmvBuffer(8); xs.foreach(fwd.add)
      val rev = new KmvBuffer(8); xs.reverse.foreach(rev.add)
      fwd.set == rev.set &&
        (xs.distinct.size >= 8 || fwd.estimate == xs.distinct.size.toLong)
    }
}
