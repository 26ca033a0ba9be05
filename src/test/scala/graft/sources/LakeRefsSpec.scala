package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, tempDir}

/** Named snapshot tags and write-audit-publish (WAP) staging: a tag is an
  * immutable release pointer usable wherever a version number is (reader
  * option, SQL VERSION AS OF) and pins its snapshot against expiration; a
  * staged append is invisible until audited and published through the OCC
  * commit.
  */
class LakeRefsSpec extends AnyFunSuite {
  private val testRoot = tempDir("lake_refs").toString

  import spark.implicits._

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def df(pairs: (Long, String)*) =
    pairs.toSeq.toDF("id", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))

  private def fresh(root: String, pairs: (Long, String)*): Unit = {
    rm(new java.io.File(root))
    LakeIO.writeLake(df(pairs: _*), root)
  }

  private def ids(d: org.apache.spark.sql.DataFrame): Seq[Long] =
    d.select($"id").collect().map(_.getLong(0)).toSeq.sorted

  test("tag: read by name via reader option and SQL VERSION AS OF; immutable; droppable") {
    val wh = tempDir("refs_wh").toString
    val root = s"$wh/default/items"
    fresh(root, 1L -> "a", 2L -> "b")
    val v = LakeIO.tagSnapshot(root, "corpus-v1")
    assert(v == ManifestFileIndex.headVersion(root).get)

    LakeIO.appendTxn(df(3L -> "c"), root)
    // head moved; the tag still reads the tagged state
    assert(ids(spark.read.format("graft-lake").load(root)) == Seq(1L, 2L, 3L))
    assert(ids(spark.read.format("graft-lake")
      .option("versionAsOf", "corpus-v1").load(root)) == Seq(1L, 2L))

    // SQL VERSION AS OF with the tag name, through the catalog
    spark.conf.set("spark.sql.catalog.grefs",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grefs.warehouse", wh)
    val viaSql = spark.sql(
      "SELECT id FROM grefs.default.items VERSION AS OF 'corpus-v1'")
      .collect().map(_.getLong(0)).toSeq.sorted
    assert(viaSql == Seq(1L, 2L))

    // tags are immutable until dropped
    intercept[IllegalArgumentException] {
      LakeIO.tagSnapshot(root, "corpus-v1")
    }
    ManifestFileIndex.dropTag(root, "corpus-v1")
    LakeIO.tagSnapshot(root, "corpus-v1") // re-creatable after drop

    // numeric-looking and malformed names rejected
    intercept[IllegalArgumentException] {
      ManifestFileIndex.createTag(root, "42", 1)
    }
    intercept[IllegalArgumentException] {
      ManifestFileIndex.createTag(root, "bad\tname", 1)
    }
  }

  test("SQL tag lifecycle: ALTER TABLE CREATE TAG / SHOW TAGS / VERSION AS OF / DROP TAG") {
    val wh = tempDir("refs_sql_wh").toString
    val root = s"$wh/default/items"
    fresh(root, 1L -> "a")
    spark.conf.set("spark.sql.catalog.grefsql",
      "org.apache.spark.sql.graft.GraftCatalog")
    spark.conf.set("spark.sql.catalog.grefsql.warehouse", wh)

    val created = spark.sql("ALTER TABLE grefsql.default.items CREATE TAG release-1")
      .collect()
    assert(created.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("release-1", 1L)))

    LakeIO.appendTxn(df(2L -> "b"), root)
    val tags = spark.sql("SHOW TAGS IN grefsql.default.items").collect()
    assert(tags.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("release-1", 1L)))
    assert(spark.sql(
      "SELECT id FROM grefsql.default.items VERSION AS OF 'release-1'")
      .collect().map(_.getLong(0)).toSeq == Seq(1L))

    spark.sql("ALTER TABLE grefsql.default.items DROP TAG release-1")
    assert(spark.sql("SHOW TAGS IN grefsql.default.items").count() == 0)
  }

  test("tagged snapshot survives expireSnapshots; untagged contemporaries expire") {
    val root = s"$testRoot/refs_expire/items"
    fresh(root, 1L -> "a")
    LakeIO.tagSnapshot(root, "pinned") // v1
    // five more commits so v1 falls far behind the keep window
    (2 to 6).foreach(i => LakeIO.appendTxn(df(i.toLong -> s"x$i"), root))
    ManifestFileIndex.expireSnapshots(root, keepLast = 2)
    // v1 is tagged: its manifest and data remain readable
    assert(ids(spark.read.format("graft-lake")
      .option("versionAsOf", "pinned").load(root)) == Seq(1L))
    // an untagged old version's manifest is gone
    assert(ManifestFileIndex.read(root, Some(2)).isEmpty,
      "untagged v2 should have expired")
  }

  test("WAP: staged append invisible at head, audit sees it, publish rebases over concurrent commits") {
    val root = s"$testRoot/refs_wap/items"
    fresh(root, 1L -> "a", 2L -> "b")
    val headBefore = ManifestFileIndex.headVersion(root).get

    LakeIO.stageAppend(df(10L -> "staged1", 11L -> "staged2"), root, "batch-7")
    // invisible at head
    assert(ids(spark.read.format("graft-lake").load(root)) == Seq(1L, 2L))
    assert(ManifestFileIndex.headVersion(root).get == headBefore)
    // audit view = head + staged rows
    assert(ids(LakeIO.auditStaged(spark, root, "batch-7")) ==
      Seq(1L, 2L, 10L, 11L))

    // a commit lands DURING the audit...
    LakeIO.appendTxn(df(3L -> "c"), root)
    // ...and publish rebases the staged delta on top of it
    val v = LakeIO.publishStaged(root, "batch-7")
    assert(v == headBefore + 2)
    assert(ids(spark.read.format("graft-lake").load(root)) ==
      Seq(1L, 2L, 3L, 10L, 11L))
    // stage marker consumed
    assert(ManifestFileIndex.readStaged(root, "batch-7").isEmpty)
  }

  test("WAP: failed audit drops the stage; orphan cleanup spares a pending stage") {
    val root = s"$testRoot/refs_wap_drop/items"
    fresh(root, 1L -> "a")

    LakeIO.stageAppend(df(99L -> "bad"), root, "rejected")
    val stagedFiles = ManifestFileIndex.readStagedDelta(root, "rejected").get._2
    assert(stagedFiles.nonEmpty)
    // orphan cleanup with zero grace must NOT delete a pending stage's files
    ManifestFileIndex.removeOrphanFiles(root, olderThanMs = 0L)
    assert(stagedFiles.forall(p => new java.io.File(root, p).exists()),
      "pending staged files must survive removeOrphanFiles")

    LakeIO.dropStagedAppend(root, "rejected")
    assert(stagedFiles.forall(p => !new java.io.File(root, p).exists()),
      "dropped stage's data files must be deleted")
    assert(ManifestFileIndex.readStaged(root, "rejected").isEmpty)
    // table untouched throughout
    assert(ids(spark.read.format("graft-lake").load(root)) == Seq(1L))
    // a dropped stage id is reusable
    LakeIO.stageAppend(df(5L -> "retry"), root, "rejected")
    assert(ids(LakeIO.auditStaged(spark, root, "rejected")) == Seq(1L, 5L))
    LakeIO.publishStaged(root, "rejected")
    assert(ids(spark.read.format("graft-lake").load(root)) == Seq(1L, 5L))
  }
}
