package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex
import org.apache.spark.sql.types.{IntegerType, LongType}

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** Column RENAME via field-history mapping (the last schema-evolution
  * verb: Iceberg renames by field ID; graft-lake renames by coalescing
  * the field's name history). Old files keep their data readable with
  * ZERO rewrite, new files write the new name, time travel crosses the
  * rename in both directions, and historical names stay reserved.
  */
class LakeRenameSpec extends AnyFunSuite {

  private val testRoot = tempDir("lake_rename").toString

  private val base = s"$testRoot/rename_spec"

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  private def fresh(root: String): Unit = {
    rm(new java.io.File(root)); LakeIO.writeLake(events, root)
  }

  test("rename: old files read via mapping, appends write the new name") {
    val root = s"$base/basic"
    fresh(root)
    val vPre = ManifestFileIndex.claimedVersion(root)
    val expectedSum = events.agg(sum($"value")).collect().head.getDouble(0)

    LakeIO.renameColumn(root, "value", "amount")
    assert(LakeIO.columnHistories(root) == Seq(Seq("value", "amount")))
    val names = LakeIO.tableSchema(root).get.fieldNames.toSet
    assert(names.contains("amount") && !names.contains("value"))

    // V2 read resolves the renamed column on PRE-rename files
    val t = spark.read.format("graft-lake").load(root)
    assert(t.columns.contains("amount") && !t.columns.contains("value"))
    assert(t.count() == events.count())
    assert(math.abs(t.agg(sum($"amount")).collect().head.getDouble(0)
      - expectedSum) < 1e-6)

    // append AFTER the rename: new files carry `amount` physically
    val batch = events.limit(30)
      .withColumn("event_id", $"event_id" + 4000000L)
      .withColumnRenamed("value", "amount")
    LakeIO.evolveAppend(batch, root)
    val t2 = spark.read.format("graft-lake").load(root)
    assert(t2.count() == events.count() + 30)
    // both generations contribute non-null amounts
    assert(t2.where($"amount".isNull).count() == 0)

    // filters on the renamed column work across generations
    val hi = t2.where($"amount" > 100.0).count()
    val expectHi = events.where($"value" > 100.0).count() +
      events.limit(30).where($"value" > 100.0).count()
    assert(hi == expectHi)

    // time travel BEFORE the rename keeps the frozen old name
    val pre = spark.read.format("graft-lake")
      .option("versionAsOf", vPre.toString).load(root)
    assert(pre.columns.contains("value") && !pre.columns.contains("amount"))
    assert(math.abs(pre.agg(sum($"value")).collect().head.getDouble(0)
      - expectedSum) < 1e-6)
  }

  test("rename composes with MoR deletes and CoW mutations") {
    val root = s"$base/dml"
    fresh(root)
    LakeIO.renameColumn(root, "value", "amount")
    // MoR delete BY the renamed column: candidates, positions, DV — all
    // through the mapping
    val nDel = LakeIO.deleteWhereMoR(spark, root, $"amount" > 400.0)
    assert(nDel == events.where($"value" > 400.0).count())
    val afterDel = LakeIO.readMoR(spark, root)
    assert(afterDel.where($"amount" > 400.0).count() == 0)
    assert(afterDel.count() == events.where($"value" <= 400.0).count())
    // fold the DV, then a CoW update on the renamed column (rewrite
    // upgrades old files to the new physical name)
    LakeIO.compactDeletes(spark, root)
    LakeIO.updateWhere(spark, root, $"amount" < 10.0,
      Seq("amount" -> lit(0.0)))
    val t = spark.read.format("graft-lake").load(root)
    assert(t.where($"amount" < 10.0 && $"amount" =!= 0.0).count() == 0)
    assert(t.count() == events.where($"value" <= 400.0).count())
  }

  test("historical names stay reserved; rename-back works") {
    val root = s"$base/reserve"
    fresh(root)
    LakeIO.renameColumn(root, "value", "amount")
    // re-adding the historical name would alias old data
    intercept[IllegalArgumentException] {
      LakeIO.evolveSchema(root,
        Seq(org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
    }
    // another column cannot take a historical name
    intercept[IllegalArgumentException] {
      LakeIO.renameColumn(root, "event_type", "value")
    }
    // …but the SAME field may rename back
    LakeIO.renameColumn(root, "amount", "value")
    assert(LakeIO.columnHistories(root) == Seq(Seq("value", "amount", "value")))
    val t = spark.read.format("graft-lake").load(root)
    assert(t.columns.contains("value"))
    assert(t.count() == events.count())
    assert(t.where($"value".isNull).count() == 0)
    // dropping the renamed column tombstones the WHOLE history
    LakeIO.dropColumnSchema(root, "value")
    assert(LakeIO.droppedColumns(root).contains("amount"))
    assert(LakeIO.droppedColumns(root).contains("value"))
  }

  test("retype widens int->long; mixed-generation files read as long") {
    val root = s"$base/retype"
    rm(new java.io.File(root))
    import spark.implicits.{localSeqToDatasetHolder, newProductEncoder}
    val old = Seq((1, "a", 10.0), (2, "b", 20.0)).toDF("id", "tag", "v")
      .withColumn("id", $"id".cast(IntegerType))
      .withColumn("ts", to_timestamp(lit("2024-01-01 00:00:01")))
    LakeIO.writeLake(old, root)
    val vPre = ManifestFileIndex.claimedVersion(root)
    LakeIO.retypeColumn(root, "id", LongType)
    assert(LakeIO.tableSchema(root).get("id").dataType == LongType)
    // non-widening conversions refuse
    intercept[IllegalArgumentException] {
      LakeIO.retypeColumn(root, "tag", LongType)
    }
    val wide = Seq((3000000000L, "c", 30.0)).toDF("id", "tag", "v")
      .withColumn("ts", to_timestamp(lit("2024-01-01 01:00:01")))
    LakeIO.evolveAppend(wide, root)
    val t = spark.read.format("graft-lake").load(root)
    assert(t.schema("id").dataType == LongType)
    assert(t.agg(sum($"id")).collect().head.getLong(0) == 3000000003L)
    // pre-retype snapshot keeps the frozen int schema
    val pre = spark.read.format("graft-lake")
      .option("versionAsOf", vPre.toString).load(root)
    assert(pre.schema("id").dataType == IntegerType)
  }

  test("maintenance + changefeed on a renamed table resolve the mapping") {
    val root = s"$base/maint"
    fresh(root)
    val v1 = ManifestFileIndex.claimedVersion(root)
    LakeIO.renameColumn(root, "value", "amount")
    // fragment the partitions with a post-rename append (same hours)
    val slice = events.limit(40)
      .withColumn("event_id", $"event_id" + 5000000L)
      .withColumnRenamed("value", "amount")
    LakeIO.evolveAppend(slice, root)
    val expectedSum = events.agg(sum($"value")).collect().head.getDouble(0) +
      events.limit(40).agg(sum($"value")).collect().head.getDouble(0)

    // the changefeed across the rename+append reports the appended rows
    // with the mapping applied (no null-filled amount)
    val head = ManifestFileIndex.claimedVersion(root)
    val changes = LakeIO.readChanges(spark, root, v1, head)
    assert(changes.where($"change" === "insert").count() == 40)
    assert(changes.where($"amount".isNull).count() == 0)

    // snapshot-safe compaction reads BOTH physical generations through
    // the mapping (a raw multi-file read would null-fill one of them)
    // and converges the rewritten files to the current name
    LakeIO.compactSnapshots(spark, root)
    val t = spark.read.format("graft-lake").load(root)
    assert(t.count() == events.count() + 40)
    assert(t.where($"amount".isNull).count() == 0)
    assert(math.abs(t.agg(sum($"amount")).collect().head.getDouble(0)
      - expectedSum) < 1e-6)

    // Z-order maintenance likewise
    LakeIO.optimizeZOrder(spark, root, "event_id", "amount")
    val z = spark.read.format("graft-lake").load(root)
    assert(z.count() == events.count() + 40)
    assert(math.abs(z.agg(sum($"amount")).collect().head.getDouble(0)
      - expectedSum) < 1e-6)
  }

  test("rename guards: partitioning columns and existing names refuse") {
    val root = s"$base/guards"
    fresh(root)
    intercept[IllegalArgumentException] {
      LakeIO.renameColumn(root, "ts", "when_at")
    }
    intercept[IllegalArgumentException] {
      LakeIO.renameColumn(root, "value", "event_type")
    }
    intercept[RuntimeException] {
      LakeIO.renameColumn(root, "nope", "x")
    }
  }
}
