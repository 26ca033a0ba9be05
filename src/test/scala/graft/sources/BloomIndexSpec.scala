package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.functions.BloomSketch
import graft.syntax._

/** File-level Bloom index: point lookups scan only sketch-admitted files,
  * results are exact, and every staleness path (post-build appends, MoR
  * deletes) stays conservative.
  */
class BloomIndexSpec extends AnyFunSuite {

  private val testRoot = tempDir("bloom_index").toString

  private val root = s"$testRoot/bloom_spec"

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)

  private def fresh(p: String): Unit = {
    rm(new java.io.File(p)); LakeIO.writeLake(events, p)
  }

  test("sketch round-trips and answers membership") {
    val df = spark.range(1000).select($"id")
    val bytes = df.agg(BloomSketch.bloomAgg($"id", 1000L, 0.01)).collect()
      .head.getAs[Array[Byte]](0)
    assert((0L until 1000L).forall(BloomSketch.mightContainLong(bytes, _)))
    // fpp 1%: out of 1000 absent probes, expect ~10 false positives
    val fp = (100000L until 101000L).count(BloomSketch.mightContainLong(bytes, _))
    assert(fp < 100, s"false-positive rate too high: $fp/1000")
  }

  test("point lookup skips most files and returns exactly the matching rows") {
    val p = s"$root/basic"
    fresh(p)
    BloomIndex.attach(spark, p, "user_id")
    val total = ManifestFileIndex.read(p).get._2.size
    val (cands, skipped) = BloomIndex.candidates(spark, p, "user_id", 7L)
    assert(cands.size + skipped.size == total)
    assert(skipped.nonEmpty, "bloom index must skip at least one file")
    assert(cands.size < total)

    val got = BloomIndex.pointScan(spark, p, "user_id", 7L)
      .select($"event_id", $"user_id")
    val expected = events.where($"user_id" === 7L).select($"event_id", $"user_id")
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)
  }

  test("files appended after the build are always scanned (absence = scan)") {
    val p = s"$root/stale"
    fresh(p)
    BloomIndex.attach(spark, p, "user_id")
    // append rows for a user the sketches have never seen
    val extra = events.limit(50).withColumn("user_id", lit(999999L))
    LakeIO.evolveAppend(extra, p)
    val got = BloomIndex.pointScan(spark, p, "user_id", 999999L)
    assert(got.count() == 50L)
  }

  test("MoR-deleted rows never resurface through the index path") {
    val p = s"$root/dv"
    fresh(p)
    BloomIndex.attach(spark, p, "user_id")
    val n = LakeIO.deleteWhereMoR(spark, p, $"user_id" === 7L && $"event_type" === "click")
    val got = BloomIndex.pointScan(spark, p, "user_id", 7L)
    assert(got.count() == events.where($"user_id" === 7L).count() - n)
    assert(got.where($"event_type" === "click").count() == 0L)
  }

  test("string-valued lookup probes the putBinary sketches, same skipping") {
    val p = s"$root/str"
    rm(new java.io.File(p))
    LakeIO.writeLake(events.withColumn("uk", concat(lit("u"), $"user_id")), p)
    BloomIndex.attach(spark, p, "uk")
    val total = ManifestFileIndex.read(p).get._2.size
    val (cands, skipped) = BloomIndex.candidates(spark, p, "uk", "u7")
    assert(cands.size + skipped.size == total && skipped.nonEmpty)
    val got = BloomIndex.pointScan(spark, p, "uk", "u7")
    assert(got.count() == events.where($"user_id" === 7L).count())
    assert(got.where($"uk" =!= "u7").count() == 0L)
  }

  test("lookup without an index degrades to a full candidate set, same rows") {
    val p = s"$root/noidx"
    fresh(p)
    val (cands, skipped) = BloomIndex.candidates(spark, p, "user_id", 7L)
    assert(skipped.isEmpty)
    assert(cands.size == ManifestFileIndex.read(p).get._2.size)
    assert(BloomIndex.pointScan(spark, p, "user_id", 7L).count() ==
      events.where($"user_id" === 7L).count())
  }
}
