package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** Merge-on-read MERGE (mergeIntoMoR): the upsert commits a deletion
  * vector for matched positions plus an append of the batch — one atomic
  * snapshot, zero data-file rewrites — and must be observationally
  * identical to the copy-on-write mergeInto.
  */
class LakeMorMergeSpec extends AnyFunSuite {

  private val testRoot = tempDir("lake_mor_merge").toString

  private val base = s"$testRoot/mor_merge_spec"

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private def fresh(root: String): Unit = {
    rm(new java.io.File(root)); LakeIO.writeLake(events, root)
  }

  private def upd = events.where($"event_id" % 7 === 0)
    .withColumn("value", $"value" * 2)
    .unionByName(events.where($"event_id" % 13 === 0)
      .withColumn("event_id", $"event_id" + 1000000L))

  test("MoR merge: no pre-existing file removed; result equals CoW merge") {
    val morRoot = s"$base/mor"
    val cowRoot = s"$base/cow"
    fresh(morRoot); fresh(cowRoot)

    val filesBefore = ManifestFileIndex.read(morRoot).get._2.map(_.relPath).toSet
    val v0 = ManifestFileIndex.headVersion(morRoot).get

    val matched = LakeIO.mergeIntoMoR(spark, morRoot, upd, "event_id")
    LakeIO.mergeInto(spark, cowRoot, upd, "event_id")

    // matched = exactly the stored rows whose key the batch hits
    assert(matched == events.where($"event_id" % 7 === 0).count())

    // every pre-merge file is STILL live (append-only data plane), the DV
    // and the appended files landed in ONE commit
    val after = ManifestFileIndex.read(morRoot).get._2.map(_.relPath).toSet
    assert(filesBefore.subsetOf(after))
    assert(after.size > filesBefore.size)
    assert(ManifestFileIndex.readDvs(morRoot).size == 1)
    assert(ManifestFileIndex.headVersion(morRoot).get == v0 + 1)

    // observational equivalence with the CoW merge
    val mor = LakeIO.readMoR(spark, morRoot)
      .select($"event_id", $"ts", $"event_type", $"value")
    val cow = spark.read.format("graft-lake").load(cowRoot)
      .select($"event_id", $"ts", $"event_type", $"value")
    assert(mor.count() == cow.count())
    assert(mor.except(cow).isEmpty && cow.except(mor).isEmpty)

    // upsert semantics spot-checks: updated key carries the doubled value
    // exactly once; inserted key exists exactly once
    val k7 = mor.where($"event_id" === 7).collect()
    assert(k7.length == 1)

    // time travel to the pre-merge snapshot still reads the OLD values
    val pre = spark.read.format("graft-lake")
      .option("versionAsOf", v0.toString).load(morRoot)
    assert(pre.count() == events.count())
  }

  test("plain V2 read applies the merge DV (no resurrected old rows)") {
    val root = s"$base/plainread"
    fresh(root)
    LakeIO.mergeIntoMoR(spark, root, upd, "event_id")
    // the ApplyDeletionVectors rule must route even a plain load through
    // the DV-applied scan: a key the merge updated appears exactly once
    val plain = spark.read.format("graft-lake").load(root)
    val counts = plain.where($"event_id" % 7 === 0)
      .groupBy($"event_id").count().where($"count" > 1).count()
    assert(counts == 0L)
  }

  test("MoR merge is re-appliable: second identical merge stays key-unique") {
    val root = s"$base/reapply"
    fresh(root)
    LakeIO.mergeIntoMoR(spark, root, upd, "event_id")
    val matched2 = LakeIO.mergeIntoMoR(spark, root, upd, "event_id")
    // second pass supersedes the first pass's appended rows (every batch
    // key now matches exactly its previously-appended row)
    assert(matched2 == upd.count())
    val got = LakeIO.readMoR(spark, root)
    assert(got.groupBy($"event_id").count().where($"count" > 1).count() == 0L)
    assert(got.count() == events.count() + events.where($"event_id" % 13 === 0).count())
    assert(ManifestFileIndex.readDvs(root).size == 2)
  }

  test("pure-insert batch commits no DV") {
    val root = s"$base/insertonly"
    fresh(root)
    val inserts = events.where($"event_id" % 11 === 0)
      .withColumn("event_id", $"event_id" + 5000000L)
    val matched = LakeIO.mergeIntoMoR(spark, root, inserts, "event_id")
    assert(matched == 0L)
    assert(ManifestFileIndex.readDvs(root).isEmpty)
    assert(LakeIO.readMoR(spark, root).count() == events.count() + inserts.count())
  }

  test("MoR UPDATE: DV + updated images, old-row RHS semantics, no rewrite") {
    val root = s"$base/update"
    fresh(root)
    val filesBefore = ManifestFileIndex.read(root).get._2.map(_.relPath).toSet
    val n = LakeIO.updateWhereMoR(spark, root, $"event_id" % 10 === 0,
      Seq("value" -> ($"value" + 1000.0)))
    assert(n == events.where($"event_id" % 10 === 0).count())
    assert(filesBefore.subsetOf(ManifestFileIndex.read(root).get._2.map(_.relPath).toSet))
    assert(ManifestFileIndex.readDvs(root).size == 1)
    val got = LakeIO.readMoR(spark, root)
      .select($"event_id", $"ts", $"event_type", $"value")
    val expected = events.withColumn("value",
      when($"event_id" % 10 === 0, $"value" + 1000.0).otherwise($"value"))
    assert(got.count() == expected.count())
    assert(got.except(expected).isEmpty && expected.except(got).isEmpty)

    // swap semantics: both RHS evaluate against the OLD row
    val root2 = s"$base/swap"
    rm(new java.io.File(root2))
    locally {
      import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
      LakeIO.writeLake(Seq((1L, "x", 2.0)).toDF("id", "a", "b")
        .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01"))), root2)
    }
    LakeIO.updateWhereMoR(spark, root2, lit(true),
      Seq("a" -> $"b".cast("string"), "b" -> length($"a").cast("double")))
    val r = LakeIO.readMoR(spark, root2).select($"a", $"b").collect().head
    assert(r.getString(0) == "2.0" && r.getDouble(1) == 1.0)

    // updating rows a DV already deleted is a no-op for them
    val root3 = s"$base/deadrows"
    fresh(root3)
    LakeIO.deleteWhereMoR(spark, root3, $"event_type" === "click")
    val n3 = LakeIO.updateWhereMoR(spark, root3, $"event_type" === "click",
      Seq("value" -> lit(0.0)))
    assert(n3 == 0L)
    assert(LakeIO.readMoR(spark, root3).where($"event_type" === "click").count() == 0L)
  }

  test("compactDeletes folds the merge DV into a rewrite") {
    val root = s"$base/fold"
    fresh(root)
    LakeIO.mergeIntoMoR(spark, root, upd, "event_id")
    val before = LakeIO.readMoR(spark, root)
      .select($"event_id", $"ts", $"event_type", $"value").collect().toSet
    val folded = LakeIO.compactDeletes(spark, root)
    assert(folded > 0L)
    assert(ManifestFileIndex.readDvs(root).isEmpty)
    val after = spark.read.format("graft-lake").load(root)
      .select($"event_id", $"ts", $"event_type", $"value").collect().toSet
    assert(after == before)
  }
}
