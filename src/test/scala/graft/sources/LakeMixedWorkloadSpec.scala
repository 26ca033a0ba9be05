package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** The whole round-4 lake tier under ONE concurrent mixed workload:
  * uncoordinated appenders, a merge-on-read deleter, a tagger, and a
  * WAP stage/audit/publish — all against one table, no external
  * coordination. The invariant is exact row conservation: every append
  * survives, the MoR delete removes exactly its predicate's base rows,
  * the tag still reads its pinned state, and every commit got its own
  * snapshot version.
  */
class LakeMixedWorkloadSpec extends AnyFunSuite {

  private val testRoot = tempDir("lake_mixed_workload").toString

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  test("concurrent appenders + MoR deleter + tagger + WAP publish: exact row conservation") {
    val root = s"$testRoot/mixed_workload/events"
    rm(new java.io.File(root))
    val events = Tables.events(spark, sf)
      .select($"event_id", $"ts", $"event_type", $"value")
    LakeIO.writeLake(events, root)
    val v0 = ManifestFileIndex.headVersion(root).get
    val baseCount = events.count()
    val clickCount = events.where($"event_type" === "click").count()

    // appended slices carry ids far above the base domain, so the MoR
    // delete predicate (base click rows) can never touch them
    val nAppenders = 4
    val slices = (0 until nAppenders).map { i =>
      events.limit(40)
        .withColumn("event_id", $"event_id" + lit((i + 1) * 10000000L))
        .withColumn("event_type", lit(s"appended_$i"))
    }
    val wapSlice = events.limit(25)
      .withColumn("event_id", $"event_id" + lit(99000000L))
      .withColumn("event_type", lit("wap"))

    val pool = java.util.concurrent.Executors.newFixedThreadPool(7)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    def task(f: => Unit): Unit =
      pool.execute(() => try f catch { case t: Throwable => errors.add(t); () })

    slices.foreach(df => task { LakeIO.appendTxn(df, root) })
    task { LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click") }
    task { LakeIO.tagSnapshot(root, "chaos-base", Some(v0)) }
    task {
      LakeIO.stageAppend(wapSlice, root, "chaos-wap")
      assert(LakeIO.auditStaged(spark, root, "chaos-wap")
        .where($"event_type" === "wap").count() == 25)
      LakeIO.publishStaged(root, "chaos-wap")
    }
    pool.shutdown()
    assert(pool.awaitTermination(180, java.util.concurrent.TimeUnit.SECONDS))
    assert(errors.isEmpty, s"workload failed: ${Option(errors.peek()).map(_.toString)}")

    // every commit claimed a distinct version, HEAD caught up to the last
    assert(ManifestFileIndex.headVersion(root).get ==
      ManifestFileIndex.claimedVersion(root))
    // 4 appends + 1 DV commit + 1 WAP publish = 6 commits past v0
    assert(ManifestFileIndex.headVersion(root).get == v0 + 6)

    // exact row conservation through the DV-aware read
    val got = LakeIO.readMoR(spark, root)
    val expectedCount = baseCount - clickCount + nAppenders * 40 + 25
    assert(got.count() == expectedCount)
    assert(got.where($"event_type" === "click").count() == 0)
    (0 until nAppenders).foreach { i =>
      assert(got.where($"event_type" === s"appended_$i").count() == 40)
    }
    assert(got.where($"event_type" === "wap").count() == 25)

    // the tag still reads the pinned pre-workload state exactly
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", "chaos-base").load(root).count() == baseCount)

    // fold the DVs and re-check through the plain manifest-planned scan
    LakeIO.compactDeletes(spark, root)
    assert(spark.read.format("graft-lake").load(root).count() == expectedCount)
  }
}
