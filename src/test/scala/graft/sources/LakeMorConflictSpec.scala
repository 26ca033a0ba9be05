package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{CommitConflictException, ManifestFileIndex}

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** Concurrent-writer conflict semantics of the MoR DML family: writes
  * that computed positions/matched-sets against a base snapshot must
  * CONFLICT (never silently commit) when the table changed underneath
  * them in a way requireLive's removed-file check cannot see — new
  * deletion vectors (stale matched-set / resurrected deletes) and
  * key-intersecting appends (duplicate images per key).
  */
class LakeMorConflictSpec extends AnyFunSuite {

  private val base = tempDir("mor_conflict_spec").toString

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private def fresh(root: String): Unit = {
    rm(new java.io.File(root)); LakeIO.writeLake(events, root)
  }

  test("a DV committed since base conflicts a requireNoNewDvs commit") {
    val root = s"$base/newdv"
    fresh(root)
    val v = ManifestFileIndex.claimedVersion(root)
    val partCol = ManifestFileIndex.read(root).get._1
    // a concurrent MoR delete lands a DV at v+1
    assert(LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click") > 0L)
    // a writer whose matched-set was computed at v must not commit blind
    val ex = intercept[CommitConflictException] {
      ManifestFileIndex.commitDelta(root, partCol, v, Seq.empty, Set.empty,
        addDvs = Seq("_graft_dv/dv-stalewriter"), requireNoNewDvs = true)
    }
    assert(ex.getMessage.contains("delete-delete conflict"))
    // without the flag the same commit rebases fine (plain-append semantics)
    ManifestFileIndex.commitDelta(root, partCol, v, Seq.empty, Set.empty)
    ()
  }

  test("a key-intersecting append since base conflicts via appendConflict") {
    val root = s"$base/append"
    fresh(root)
    val v = ManifestFileIndex.claimedVersion(root)
    val partCol = ManifestFileIndex.read(root).get._1
    LakeIO.appendTxn(events.limit(10)
      .withColumn("event_id", $"event_id" + 7000000L), root)
    val ex = intercept[CommitConflictException] {
      ManifestFileIndex.commitDelta(root, partCol, v, Seq.empty, Set.empty,
        appendConflict = _ => true)
    }
    assert(ex.getMessage.contains("append conflict"))
    // a NON-intersecting append (predicate false) rebases cleanly
    ManifestFileIndex.commitDelta(root, partCol, v, Seq.empty, Set.empty,
      appendConflict = _ => false)
    ()
  }

  test("two racing MoR merges on overlapping keys never leave duplicate rows") {
    val root = s"$base/race"
    fresh(root)
    val upd = events.where($"event_id" % 5 === 0)
      .withColumn("value", $"value" + 1.0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    val conflicts = new java.util.concurrent.atomic.AtomicInteger(0)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CountDownLatch(1)
    (0 until 2).foreach { _ =>
      pool.execute { () =>
        try { gate.await(); LakeIO.mergeIntoMoR(spark, root, upd, "event_id"); () }
        catch {
          case _: CommitConflictException => conflicts.incrementAndGet(); ()
          case t: Throwable => errors.add(t); ()
        }
      }
    }
    gate.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(180, java.util.concurrent.TimeUnit.SECONDS))
    assert(errors.isEmpty, s"unexpected failure: ${Option(errors.peek())}")
    // whichever interleaving happened — both serialized cleanly, or the
    // loser conflicted — the table is key-unique and the winner's values
    // are visible
    val got = LakeIO.readMoR(spark, root)
    assert(got.groupBy($"event_id").count().where($"count" > 1).count() == 0L)
    assert(got.count() == events.count())
    assert(conflicts.get() <= 1)
    // at least one merge applied
    val bumped = got.join(events.withColumnRenamed("value", "old_value"),
      "event_id").where($"event_id" % 5 === 0 && $"value" =!= $"old_value")
    assert(bumped.count() == events.where($"event_id" % 5 === 0).count())
  }

  test("merge keys must be non-null (explicit contract error, no NPE)") {
    val root = s"$base/nullkey"
    fresh(root)
    val badBatch = events.limit(5)
      .withColumn("event_id",
        when($"event_id" % 2 === 0, $"event_id").otherwise(lit(null)))
    val ex = intercept[IllegalArgumentException] {
      LakeIO.mergeIntoMoR(spark, root, badBatch, "event_id")
    }
    assert(ex.getMessage.contains("non-null"))
    // an ALL-null key column hits the same guard (this is the case that
    // used to NPE in the bounds unboxing)
    val allNull = events.limit(5).withColumn("event_id", lit(null).cast("long"))
    val ex2 = intercept[IllegalArgumentException] {
      LakeIO.mergeIntoMoR(spark, root, allNull, "event_id")
    }
    assert(ex2.getMessage.contains("non-null"))
  }

  test("mergeExactlyOnce rejects unknown strategies at entry") {
    val root = s"$base/strategy"
    fresh(root)
    val ex = intercept[IllegalArgumentException] {
      LakeIO.mergeExactlyOnce(spark, root, events.limit(1), Seq("event_id"),
        batchId = 0L, strategy = "MOR")
    }
    assert(ex.getMessage.contains("cow|mor"))
  }

  test("deleteCandidates at an explicit version reads that snapshot's files") {
    val root = s"$base/versioned"
    fresh(root)
    val v = ManifestFileIndex.claimedVersion(root)
    val filesAtV = ManifestFileIndex.read(root, Some(v)).get._2.map(_.relPath).toSet
    // a CoW update rewrites files at v+1
    LakeIO.updateWhere(spark, root, $"event_type" === "click",
      Seq("value" -> lit(0.0)))
    val (_, cands, skipped) =
      LakeIO.deleteCandidates(spark, root, lit(true), Some(v))
    assert((cands ++ skipped).map(_.relPath).toSet == filesAtV)
    assert(ManifestFileIndex.read(root).get._2.map(_.relPath).toSet != filesAtV)
  }
}
