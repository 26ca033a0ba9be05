package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** Merge-on-read deletes (deletion vectors): a delete commits a position
  * sidecar instead of rewriting files; readers apply it; maintenance
  * folds it; CoW mutations refuse to run over live DVs (they would
  * resurrect the deleted rows).
  */
class LakeMorSpec extends AnyFunSuite {

  private val testRoot = tempDir("lake_mor").toString

  private val base = s"$testRoot/mor_spec"

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private def fresh(root: String): Unit = {
    rm(new java.io.File(root)); LakeIO.writeLake(events, root)
  }

  test("MoR delete: no data file rewritten, reader applies positions exactly") {
    val root = s"$base/basic"
    fresh(root)
    val filesBefore = ManifestFileIndex.read(root).get._2.map(_.relPath).toSet
    val v0 = ManifestFileIndex.headVersion(root).get

    val n = LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")
    assert(n == events.where($"event_type" === "click").count())

    // metadata-only commit: the LIVE FILE SET is bit-identical
    assert(ManifestFileIndex.read(root).get._2.map(_.relPath).toSet == filesBefore)
    assert(ManifestFileIndex.headVersion(root).get == v0 + 1)
    assert(ManifestFileIndex.readDvs(root).size == 1)

    // the DV-aware read equals the predicate delete
    val got = LakeIO.readMoR(spark, root)
      .select($"event_id", $"ts", $"event_type", $"value")
    val expected = events.where($"event_type" =!= "click")
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)

    // time travel to the pre-delete snapshot still sees every row
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", v0.toString).load(root).count() == events.count())
  }

  test("stacked MoR deletes apply together; re-deleting records nothing new") {
    val root = s"$base/stacked"
    fresh(root)
    LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")
    LakeIO.deleteWhereMoR(spark, root, $"value" > 200.0)
    assert(ManifestFileIndex.readDvs(root).size == 2)
    val expected = events.where($"event_type" =!= "click" && !($"value" > 200.0))
    assert(LakeIO.readMoR(spark, root).count() == expected.count())
    // overlapping re-delete: every matching position is already deleted
    assert(LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click") == 0L)
    assert(ManifestFileIndex.readDvs(root).size == 2)
  }

  test("CoW mutations refuse over live DVs; compactDeletes folds and clears them") {
    val root = s"$base/fold"
    fresh(root)
    LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")
    val expected = events.where($"event_type" =!= "click")

    // every CoW path rejects until maintenance folds the DVs
    val e = intercept[IllegalArgumentException] {
      LakeIO.deleteWhere(spark, root, $"value" > 100.0)
    }
    assert(e.getMessage.contains("compactDeletes"))
    intercept[IllegalArgumentException] {
      LakeIO.mergeInto(spark, root, events.limit(1), "event_id")
    }
    intercept[IllegalArgumentException] { LakeIO.compactSnapshots(spark, root) }

    val folded = LakeIO.compactDeletes(spark, root)
    assert(folded == events.where($"event_type" === "click").count())
    assert(ManifestFileIndex.readDvs(root).isEmpty)
    // after folding, the PLAIN manifest-planned read equals the MoR read
    val plain = spark.read.format("graft-lake").load(root)
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(plain.count() == expected.count())
    assert(plain.except(expected).isEmpty && expected.except(plain).isEmpty)
    // and CoW mutations work again
    LakeIO.deleteWhere(spark, root, $"value" > 300.0)
    assert(spark.read.format("graft-lake").load(root).count() ==
      expected.where(!($"value" > 300.0)).count())
  }

  test("EVERY reader applies DVs: plain V2 load, SQL, time travel per-snapshot") {
    val root = s"$base/allreaders"
    fresh(root)
    val v0 = ManifestFileIndex.headVersion(root).get
    LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")
    val v1 = ManifestFileIndex.headVersion(root).get
    val expected = events.where($"event_type" =!= "click")

    // plain graft-lake load (NOT readMoR): the ApplyDeletionVectors rule
    // must route it through the DV-applied scan
    val plain = spark.read.format("graft-lake").load(root)
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(plain.count() == expected.count(),
      "plain V2 scan must not resurrect MoR-deleted rows")
    assert(plain.except(expected).isEmpty && expected.except(plain).isEmpty)

    // filters compose with the rewrite (pre-pushdown splice keeps exact
    // predicate semantics)
    assert(spark.read.format("graft-lake").load(root)
      .where($"value" > 100.0).count() ==
      expected.where($"value" > 100.0).count())

    // SQL over the relation
    spark.read.format("graft-lake").load(root).createOrReplaceTempView("mor_all")
    assert(spark.sql("SELECT count(*) AS n FROM mor_all").head().getLong(0) ==
      expected.count())

    // time travel: the DV-carrying snapshot applies ITS DVs; the
    // pre-delete snapshot applies none
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", v1.toString).load(root).count() == expected.count())
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", v0.toString).load(root).count() == events.count())

    // an append on top: head read = survivors + appended rows
    val extra = events.limit(25).withColumn("event_id", $"event_id" + 9000000L)
    LakeIO.appendTxn(extra, root)
    assert(spark.read.format("graft-lake").load(root).count() ==
      expected.count() + 25)
  }

  test("changefeed sees a DV commit as exact row-level deletes") {
    val root = s"$base/cdfdv"
    fresh(root)
    val v1 = ManifestFileIndex.headVersion(root).get
    LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")
    val v2 = ManifestFileIndex.headVersion(root).get
    val deleted = events.where($"event_type" === "click")

    val changes = LakeIO.readChanges(spark, root, v1, v2)
    assert(changes.where($"change" === "insert").count() == 0)
    val dels = changes.where($"change" === "delete")
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(dels.count() == deleted.count())
    assert(dels.except(deleted).isEmpty && deleted.except(dels).isEmpty)

    // full-range changefeed (0 → head): inserts net of the deletes —
    // a row inserted and deleted inside the window is NO change
    val all = LakeIO.readChanges(spark, root, 0, v2)
    assert(all.where($"change" === "insert").count() ==
      events.where($"event_type" =!= "click").count())
    assert(all.where($"change" === "delete").count() == 0)

    // incremental read: rows appended AND MoR-deleted inside one window
    // never appear in the increment (added files minus DV'd positions)
    val extra = events.limit(40).withColumn("event_id", $"event_id" + 5000000L)
    LakeIO.appendTxn(extra, root)
    LakeIO.deleteWhereMoR(spark, root,
      $"event_id" >= 5000000L && $"event_type" === "view")
    val v4 = ManifestFileIndex.headVersion(root).get
    assert(LakeIO.readIncrement(spark, root, v2, v4).count() ==
      extra.where($"event_type" =!= "view").count())
  }

  test("appends carry DVs forward; streaming source flags a DV commit as a change commit") {
    val root = s"$base/carry"
    fresh(root)
    LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")
    // an append between the delete and the read must not resurrect rows
    val extra = events.limit(50)
      .withColumn("event_id", $"event_id" + 7000000L)
    LakeIO.appendTxn(extra, root)
    assert(ManifestFileIndex.readDvs(root).size == 1,
      "append must carry the deletion vector forward")
    val expected = events.where($"event_type" =!= "click").unionByName(extra)
    assert(LakeIO.readMoR(spark, root).count() == expected.count())

    // the micro-batch stream must not silently treat the DV commit as an
    // empty append: backfill from v0 throws unless skipChangeCommits
    val err = intercept[Exception] {
      val q = spark.readStream.format("graft-lake-stream").load(root)
        .writeStream.format("memory").queryName("mor_stream_fail")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination(60000) finally q.stop()
    }
    def rootCause(t: Throwable): Throwable =
      if (t.getCause == null || t.getCause == t) t else rootCause(t.getCause)
    assert(rootCause(err).getMessage.contains("deletion vectors") ||
      err.getMessage.contains("deletion vectors"))
  }

  test("removeOrphanFiles collects DV sidecars no snapshot references, keeps live ones") {
    val root = s"$base/orphandv"
    fresh(root)
    LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click") // live DV
    // debris of a FAILED MoR attempt: sidecar written, commit never landed
    val orphan = new java.io.File(root, "_graft_dv/dv-deadbeefcafe")
    orphan.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-00000.parquet").toPath, Array[Byte](1, 2, 3))
    val removed = ManifestFileIndex.removeOrphanFiles(root, olderThanMs = -1000)
    assert(removed >= 1)
    assert(!orphan.exists(), "unreferenced sidecar must be collected")
    val live = ManifestFileIndex.readDvs(root)
    assert(live.size == 1 && new java.io.File(root, live.head).exists(),
      "the committed sidecar must survive")
    // and the DV still applies
    assert(LakeIO.readMoR(spark, root).where($"event_type" === "click").count() == 0L)
  }
}
