package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** CREATE TABLE … [SHALLOW] CLONE … (Delta shallow-clone / Iceberg
  * snapshot-export parity): a metadata-only copy of one snapshot into a
  * NEW independent table — entries, stats, row counts, deletion vectors,
  * frozen schema, rename history and CHECK constraints carried; data
  * files hard-linked. Writes on either side never affect the other, and
  * a source VACUUM can never break the clone (links pin the bytes).
  */
class LakeCloneSpec extends AnyFunSuite {
  // selective: toDF support without StringToColumn (graft.syntax owns $)
  import spark.implicits.{newProductEncoder, localSeqToDatasetHolder}

  private val base = tempDir("clone_spec").toString

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private def readBack(root: String) =
    spark.read.format("graft-lake").load(root)
      .select($"event_id", $"ts", $"event_type", $"value")

  test("clone of a MoR head carries the deletion vectors; both sides then diverge freely") {
    val root = s"$base/mor"
    rm(new java.io.File(base))
    val src = s"$root/src"
    val dst = s"$root/dst"
    LakeIO.writeLake(events, src)
    LakeIO.deleteWhereMoR(spark, src, $"event_id" % 5 === 0)

    val res = spark.sql(s"CREATE TABLE '$dst' CLONE '$src'").collect().head
    assert(res.getLong(0) === 2L, s"cloned the MoR head: $res")

    val live = events.where($"event_id" % 5 =!= 0)
    assert(readBack(dst).exceptAll(live).isEmpty &&
      live.exceptAll(readBack(dst)).isEmpty,
      "the clone must serve the DV-applied state, not resurrect rows")

    // independence: a second MoR delete in the SOURCE must not move the
    // clone (CoW over live DVs is refused by design — requireNoDvs), and
    // an append to the CLONE must not move the source
    LakeIO.deleteWhereMoR(spark, src, $"event_id" % 3 === 1)
    assert(readBack(dst).count() === live.count(),
      "source writes must not affect the clone")
    LakeIO.evolveAppend(
      Seq((9000001L, java.sql.Timestamp.valueOf("2024-01-05 00:00:01"),
        "cloned", 1.0))
        .toDF("event_id", "ts", "event_type", "value"), dst)
    assert(readBack(dst).count() === live.count() + 1)
    assert(readBack(src).count() ===
      events.where($"event_id" % 5 =!= 0 && $"event_id" % 3 =!= 1).count(),
      "clone writes must not affect the source")
  }

  test("VERSION AS OF clone serves the historical state; source VACUUM cannot break it") {
    val root = s"$base/travel"
    rm(new java.io.File(root))
    val src = s"$root/src"
    val dst = s"$root/dst"
    LakeIO.writeLake(events, src)
    // CoW delete REWRITES the surviving files: v1's originals leave the
    // live set and become vacuum-eligible once v1 expires
    LakeIO.deleteWhere(spark, src, $"event_id" % 5 === 0)

    spark.sql(s"CREATE TABLE '$dst' CLONE '$src' VERSION AS OF 1").collect()
    assert(readBack(dst).exceptAll(events).isEmpty &&
      events.exceptAll(readBack(dst)).isEmpty,
      "the VERSION AS OF clone must serve the pre-delete state")

    // expire v1 in the source and sweep its files — the clone's hard
    // links pin the bytes, so it keeps serving byte-identically
    spark.sql(s"VACUUM '$src' RETAIN 1 SNAPSHOTS").collect()
    intercept[Exception] { ManifestFileIndex.restoreTo(src, 1) }
    assert(readBack(dst).count() === events.count(),
      "a source VACUUM must never break a clone")

    // and a clone of an expired/vacuumed snapshot refuses loudly
    // (RETAIN drops the snapshot manifest itself, so the refusal is
    // "no snapshot"; a vacuum that only swept files says "vacuumed")
    val e = intercept[Exception] {
      ManifestFileIndex.cloneTo(src, s"$root/dst2", Some(1))
    }
    assert(e.getMessage.contains("vacuumed") ||
      e.getMessage.contains("no snapshot"), e.getMessage)
  }

  test("clone refuses a non-empty target and carries CHECK constraints forward") {
    val root = s"$base/guard"
    rm(new java.io.File(root))
    val src = s"$root/src"
    val dst = s"$root/dst"
    LakeIO.writeLake(events, src)
    spark.sql(
      s"ALTER TABLE '$src' ADD CONSTRAINT positive_value CHECK (value >= -1e9)")
      .collect()

    // non-empty target: refused, content intact
    new java.io.File(dst).mkdirs()
    java.nio.file.Files.write(
      new java.io.File(dst, "precious.txt").toPath, "data".getBytes)
    val e = intercept[IllegalArgumentException] {
      spark.sql(s"CREATE TABLE '$dst' CLONE '$src'")
    }
    assert(e.getMessage.contains("not empty"), e.getMessage)
    assert(new java.io.File(dst, "precious.txt").exists())

    val dst2 = s"$root/dst2"
    spark.sql(s"CREATE TABLE '$dst2' CLONE '$src'").collect()
    assert(LakeIO.constraints(dst2).map(_._1) == Seq("positive_value"),
      "constraints must follow the clone")
    val viol = intercept[Exception] {
      LakeIO.evolveAppend(
        Seq((9000002L, java.sql.Timestamp.valueOf("2024-01-05 00:00:01"),
          "bad", -2e9))
          .toDF("event_id", "ts", "event_type", "value"), dst2)
    }
    assert(viol.getMessage.toLowerCase.contains("constraint"),
      s"the clone must enforce the carried constraint: ${viol.getMessage}")
  }
}
