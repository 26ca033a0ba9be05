package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** Table RESTORE (Iceberg rollback_to_snapshot / Delta RESTORE):
  * rolling back to snapshot v is a NEW full-state commit carrying v's
  * files, v's deletion vectors, v's partition spec, and v's frozen
  * schema — history stays append-only (the undone snapshots remain
  * time-travelable, and a second restore undoes the first), and a
  * restore to a vacuumed snapshot fails loudly instead of dropping rows.
  */
class LakeRestoreSpec extends AnyFunSuite {

  private val base = tempDir("restore_spec").toString

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private def fresh(root: String): Unit = {
    rm(new java.io.File(root)); LakeIO.writeLake(events, root)
  }

  test("restore after CoW delete: head reads the original; detour stays travelable") {
    val root = s"$base/cow"
    fresh(root)
    LakeIO.deleteWhere(spark, root, $"event_id" % 5 === 0)
    ManifestFileIndex.restoreTo(root, 1)
    assert(ManifestFileIndex.headVersion(root).get == 3)

    val got = spark.read.format("graft-lake").load(root)
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(got.count() == events.count())
    assert(got.except(events).isEmpty && events.except(got).isEmpty)

    // the rolled-back snapshot is still exactly readable
    val v2 = spark.read.format("graft-lake").option("versionAsOf", "2").load(root)
    assert(v2.count() == events.where($"event_id" % 5 =!= 0).count())

    // a second restore can undo the first (forward to the deleted state)
    ManifestFileIndex.restoreTo(root, 2)
    assert(spark.read.format("graft-lake").load(root).count() == v2.count())
  }

  test("restore to a DV snapshot carries its deletion vectors") {
    val root = s"$base/mor"
    fresh(root)
    LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")   // v2: DV
    LakeIO.evolveAppend(events.limit(20)
      .withColumn("event_id", $"event_id" + 8200000L), root)        // v3
    val v2Count = events.where($"event_type" =!= "click").count()

    ManifestFileIndex.restoreTo(root, 2)                            // v4 = v2
    assert(ManifestFileIndex.readDvs(root).nonEmpty,
      "restore must carry the snapshot's DVs, not resurrect deleted rows")
    val got = LakeIO.readMoR(spark, root)
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(got.count() == v2Count)
    assert(got.where($"event_type" === "click").isEmpty)
    assert(got.where($"event_id" >= 8200000L).isEmpty,
      "the post-restore read must not see the rolled-back append")
  }

  test("restore to a vacuumed snapshot fails loudly") {
    val root = s"$base/vacuumed"
    fresh(root)
    LakeIO.deleteWhere(spark, root, $"event_id" % 3 === 0)   // v2 rewrites
    // a v1-exclusive (parked) data file lost to disk damage / manual rm:
    // the snapshot manifest still exists, but its state is unrecoverable
    val v1Only = ManifestFileIndex.read(root, Some(1)).get._2.map(_.relPath)
      .filterNot(ManifestFileIndex.read(root, Some(2)).get._2.map(_.relPath).toSet)
    assert(v1Only.nonEmpty)
    assert(new java.io.File(root, v1Only.head).delete())
    val e = intercept[IllegalArgumentException] {
      ManifestFileIndex.restoreTo(root, 1)
    }
    assert(e.getMessage.contains("vacuumed"))

    // an EXPIRED snapshot (manifest gone) also refuses, with its own error
    LakeIO.deleteWhere(spark, root, $"event_id" % 4 === 0)   // v3
    ManifestFileIndex.expireSnapshots(root, keepLast = 1)
    val e2 = intercept[RuntimeException] {
      ManifestFileIndex.restoreTo(root, 1)
    }
    assert(e2.getMessage.contains("no snapshot"))
  }

  test("restore brings back the pre-evolution schema") {
    val root = s"$base/schema"
    fresh(root)
    LakeIO.evolveAppend(events.limit(10)
      .withColumn("event_id", $"event_id" + 8300000L)
      .withColumn("extra", lit(1.5)), root)                  // v2 adds a column
    assert(spark.read.format("graft-lake").load(root).columns.contains("extra"))
    ManifestFileIndex.restoreTo(root, 1)
    val cols = spark.read.format("graft-lake").load(root).columns.toSet
    assert(!cols.contains("extra"),
      s"v1's frozen schema must come back with its file set (got $cols)")
    assert(spark.read.format("graft-lake").load(root).count() == events.count())
  }
}
