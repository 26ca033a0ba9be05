package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.operators.Multimodal
import graft.syntax._

/** Multimodal payloads through the FULL lake lifecycle in one flow:
  * opaque-binary payload lake → rename of a metadata column → a second
  * physical generation appended under the new name → merge-on-read
  * delete BY the renamed column → reads (MoR and plain V2) and the
  * row-level changefeed, all resolving the mapping and the deletion
  * vector together. This is the combination a production media corpus
  * actually hits (schema drift + GDPR deletes on a table whose payloads
  * are far too large to rewrite), and none of the single-feature specs
  * covered the interaction.
  */
class MultimodalLakeSpec extends AnyFunSuite {

  private val testRoot = tempDir("multimodal_lake").toString

  private val base = s"$testRoot/multimodal_lake"

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  /** Media table + an hour-spread ts so the lake partitions normally. */
  private def media = Multimodal.mediaTable(spark, sf)
    .withColumn("ts", expr(
      "timestampadd(HOUR, CAST(doc_id % 48 AS INT), TIMESTAMP'2024-01-01 00:00:00')"))

  test("payload lake survives rename + MoR delete; reads and changefeed agree") {
    val root = s"$base/flow"
    rm(new java.io.File(root))
    LakeIO.writeLake(media, root)
    val v1 = ManifestFileIndex.claimedVersion(root)
    val nBase = media.count()

    // metadata-column rename: payloads must NOT rewrite (that's the point
    // of name-history mapping on a table of large binaries)
    val filesBefore = ManifestFileIndex.read(root).get._2.map(_.relPath).toSet
    LakeIO.renameColumn(root, "media_type", "mime")
    assert(ManifestFileIndex.read(root).get._2.map(_.relPath).toSet == filesBefore,
      "rename must be metadata-only — no payload files rewritten")

    // second physical generation under the new name
    val slice = media.where($"doc_id" % 5 === 0)
      .withColumn("doc_id", $"doc_id" + 900000L)
      .withColumnRenamed("media_type", "mime")
    LakeIO.evolveAppend(slice, root)
    val nSlice = slice.count()

    // GDPR-style MoR delete BY the renamed column: candidates, positions
    // and the DV all resolve through the mapping on BOTH generations
    val nAudio = media.where($"media_type" === "audio/wav").count() +
      slice.where($"mime" === "audio/wav").count()
    val nDel = LakeIO.deleteWhereMoR(spark, root, $"mime" === "audio/wav")
    assert(nDel == nAudio && nDel > 0)
    assert(ManifestFileIndex.readDvs(root).nonEmpty, "delete must be MoR (DV), not CoW")

    // MoR read: mapping + DV together, payloads intact on both generations
    val t = LakeIO.readMoR(spark, root)
    assert(t.columns.contains("mime") && !t.columns.contains("media_type"))
    assert(t.where($"mime" === "audio/wav").count() == 0)
    assert(t.count() == nBase + nSlice - nDel)
    assert(t.where($"payload".isNull || length($"payload") === 0).count() == 0)

    // plain V2 read (ApplyDeletionVectors rewrite active in this session)
    // must see the identical logical state
    val v2 = spark.read.format("graft-lake").load(root)
    assert(v2.count() == t.count())
    assert(v2.where($"mime" === "audio/wav").count() == 0)

    // time travel BEFORE the rename: frozen old name, no DVs applied yet
    val pre = spark.read.format("graft-lake")
      .option("versionAsOf", v1.toString).load(root)
    assert(pre.columns.contains("media_type") && pre.count() == nBase)

    // row-level changefeed across rename + append + DV commit: inserts =
    // still-live appended rows, deletes = deleted BASE rows (appended
    // rows deleted inside the window cancel), mapping applied throughout
    val head = ManifestFileIndex.claimedVersion(root)
    val ch = LakeIO.readChanges(spark, root, v1, head)
    val sliceAudio = slice.where($"mime" === "audio/wav").count()
    assert(ch.where($"change" === "insert").count() == nSlice - sliceAudio)
    assert(ch.where($"change" === "delete").count() ==
      media.where($"media_type" === "audio/wav").count())
    assert(ch.where($"mime".isNull).count() == 0,
      "changefeed must resolve the renamed column on pre-rename files")
  }
}
