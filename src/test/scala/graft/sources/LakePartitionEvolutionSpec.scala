package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ManifestFileIndex

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** Partition-spec evolution (Iceberg-style): a day(ts)-partitioned table
  * evolves to hour(ts) with ZERO rewrite — the manifest header records
  * the new partCol per snapshot, each file's relPath prefix carries its
  * own era, range pruning treats each file by ITS era's semantics, and
  * reads stay era-transparent because hidden partition columns derive
  * from ts. [[LakeIO.rewriteEra]] converges the layout under
  * maintenance.
  */
class LakePartitionEvolutionSpec extends AnyFunSuite {

  private val testRoot = tempDir("lake_partition_evolution").toString

  private val base = s"$testRoot/part_evolution_spec"

  private def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
  }

  private def events = Tables.events(spark, sf)
    .select($"event_id", $"ts", $"event_type", $"value")

  test("day -> hour evolution: era-aware pruning touches exactly the right files of both eras") {
    val root = s"$base/evolve"
    rm(new java.io.File(root))

    // era 1: day-partitioned
    LakeIO.writeLakeDay(events, root)
    val (pc0, entries0) = ManifestFileIndex.read(root).get
    assert(pc0 == "ts_day")
    assert(entries0.forall(_.relPath.startsWith("ts_day=")))
    val vDay = ManifestFileIndex.claimedVersion(root)

    // evolve the SPEC — metadata-only, no file moves
    LakeIO.evolvePartitioning(root, "ts_hour")
    val (pc1, entries1) = ManifestFileIndex.read(root).get
    assert(pc1 == "ts_hour")
    assert(entries1.map(_.relPath).toSet == entries0.map(_.relPath).toSet)

    // era 2: appends land hour-partitioned
    val batch = events.limit(50)
      .withColumn("event_id", $"event_id" + 8000000L)
    LakeIO.evolveAppend(batch, root)
    val (_, entries2) = ManifestFileIndex.read(root).get
    val dayFiles = entries2.filter(_.relPath.startsWith("ts_day="))
    val hourFiles = entries2.filter(_.relPath.startsWith("ts_hour="))
    assert(dayFiles.nonEmpty && hourFiles.nonEmpty, "mixed-era manifest")

    // era-aware range pruning: each file prunes by ITS OWN era's value
    val lo = "2024-01-15 00:00:00"
    val hi = "2024-01-16 00:00:00"
    val pruned = LakeIO.prunedEntriesForRange(root, lo, hi)
    val prunedSet = pruned.map(_.relPath).toSet
    entries2.foreach { e =>
      val expect = LakeIO.eraOf(e) match {
        case "ts_day"  => e.partValue >= "2024-01-15" && e.partValue <= "2024-01-16"
        case "ts_hour" => e.partValue >= "2024-01-15-00" && e.partValue <= "2024-01-16-00"
        case _         => true
      }
      assert(prunedSet.contains(e.relPath) == expect,
        s"${e.relPath} pruning mismatch")
    }
    assert(pruned.size < entries2.size, "pruning must drop out-of-range files")

    // the pruned scan returns exactly the range's rows from BOTH eras
    val got = LakeIO.prunedScanEvolved(spark, root, lo, hi)
    val expectRows = events.unionByName(batch)
      .where($"ts" >= to_timestamp(lit(lo)) && $"ts" < to_timestamp(lit(hi)))
    assert(got.count() == expectRows.count())

    // full mixed-era read via the rule-driven graft-lake path
    val full = spark.read.format("graft-lake").load(root)
    assert(full.count() == events.count() + 50)

    // time travel to the day-era snapshot still reads (old partCol header)
    val pre = spark.read.format("graft-lake")
      .option("versionAsOf", vDay.toString).load(root)
    assert(pre.count() == events.count())

    // maintenance convergence: all files end hour-era, rows intact
    LakeIO.rewriteEra(spark, root)
    val (_, entries3) = ManifestFileIndex.read(root).get
    assert(entries3.forall(_.relPath.startsWith("ts_hour=")))
    assert(spark.read.format("graft-lake").load(root).count() ==
      events.count() + 50)
    // and time travel ACROSS the convergence still serves the old files
    assert(spark.read.format("graft-lake")
      .option("versionAsOf", vDay.toString).load(root).count() == events.count())
  }

  test("pure day-partitioned tables read and prune standalone") {
    val root = s"$base/dayonly"
    rm(new java.io.File(root))
    LakeIO.writeLakeDay(events, root)
    val t = spark.read.format("graft-lake").load(root)
    assert(t.count() == events.count())
    // day-value pruning from the manifest alone
    val oneDay = LakeIO.prunedEntriesForRange(root,
      "2024-01-15 00:00:00", "2024-01-15 23:59:59")
    assert(oneDay.nonEmpty)
    assert(oneDay.forall(_.partValue == "2024-01-15"))
    val got = LakeIO.prunedScanEvolved(spark, root,
      "2024-01-15 00:00:00", "2024-01-16 00:00:00")
    assert(got.count() ==
      events.where(date_format($"ts", "yyyy-MM-dd") === "2024-01-15").count())
  }

  test("mixed-era DML: CoW refuses, MoR deletes correctly across both eras") {
    val root = s"$base/dml"
    rm(new java.io.File(root))
    LakeIO.writeLakeDay(events, root)
    LakeIO.evolvePartitioning(root, "ts_hour")
    val batch = events.limit(40)
      .withColumn("event_id", $"event_id" + 9000000L)
    LakeIO.evolveAppend(batch, root)
    // CoW mutations refuse mid-evolution (touched-partition accounting
    // compares hour values against day partValues)
    intercept[IllegalArgumentException] {
      LakeIO.deleteWhere(spark, root, $"event_type" === "click")
    }
    // MoR delete is file-position-based: correct across both eras
    val n = LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")
    val expectDel = events.where($"event_type" === "click").count() +
      events.limit(40).where($"event_type" === "click").count()
    assert(n == expectDel)
    val got = LakeIO.readMoR(spark, root)
    assert(got.where($"event_type" === "click").count() == 0)
    assert(got.count() == events.count() + 40 - expectDel)
    // metadata COUNT path must not mis-answer on a mixed-era manifest
    // (the rule declines; the scan path still returns the exact count)
    assert(spark.read.format("graft-lake").load(root).count() ==
      events.count() + 40 - expectDel)
  }

  test("evolvePartitioning guards: unknown spec and no-op evolution refuse") {
    val root = s"$base/guards"
    rm(new java.io.File(root))
    LakeIO.writeLakeDay(events.limit(20), root)
    intercept[IllegalArgumentException] {
      LakeIO.evolvePartitioning(root, "ts_month")
    }
    intercept[IllegalArgumentException] {
      LakeIO.evolvePartitioning(root, "ts_day")
    }
  }

  test("day tables: hour-assuming writers refuse; MoR delete + DV fold work") {
    val root = s"$base/dayguards"
    rm(new java.io.File(root))
    LakeIO.writeLakeDay(events, root)
    // every appending writer stages hour-era files → must refuse rather
    // than drop staged files or flip the spec (review findings r6)
    intercept[IllegalArgumentException] { LakeIO.appendTxn(events.limit(5), root) }
    intercept[IllegalArgumentException] { LakeIO.evolveAppend(events.limit(5), root) }
    intercept[IllegalArgumentException] {
      LakeIO.mergeIntoMoR(spark, root, events.limit(5), "event_id")
    }
    intercept[IllegalArgumentException] {
      LakeIO.updateWhereMoR(spark, root, lit(true), Seq("value" -> lit(0.0)))
    }
    // CoW mutations account touched partitions in hour values → refuse
    // on a day table instead of silently no-opping
    intercept[IllegalArgumentException] {
      LakeIO.deleteWhere(spark, root, $"event_type" === "click")
    }
    intercept[IllegalArgumentException] {
      LakeIO.updateWhere(spark, root, lit(true), Seq("value" -> lit(0.0)))
    }
    // the file-position-based MoR delete IS era-general, and its DVs can
    // be folded on a day table (rewrite re-derives ts_day)
    val n = LakeIO.deleteWhereMoR(spark, root, $"event_type" === "click")
    assert(n == events.where($"event_type" === "click").count())
    val folded = LakeIO.compactDeletes(spark, root)
    assert(folded == n)
    val t = spark.read.format("graft-lake").load(root)
    assert(t.where($"event_type" === "click").count() == 0)
    assert(t.count() == events.count() - n)
    val (pc, es) = ManifestFileIndex.read(root).get
    assert(pc == "ts_day" && es.forall(_.relPath.startsWith("ts_day=")))
  }

  test("reserved names refuse everywhere; rename ordering keeps mapping first") {
    val root = s"$base/reserved"
    rm(new java.io.File(root))
    LakeIO.writeLake(events.limit(50), root)
    intercept[IllegalArgumentException] { LakeIO.renameColumn(root, "value", "ts_day") }
    intercept[IllegalArgumentException] { LakeIO.renameColumn(root, "value", "ts_hour") }
    intercept[IllegalArgumentException] {
      LakeIO.evolveSchema(root, Seq(org.apache.spark.sql.types.StructField(
        "ts_day", org.apache.spark.sql.types.StringType)))
    }
    // streaming a renamed table refuses loudly (no mapping on the stream)
    LakeIO.renameColumn(root, "value", "amount")
    val q = spark.readStream.format("graft-lake-stream").load(root)
      .writeStream.format("memory").queryName("ren_stream").start()
    val ex = intercept[Exception] {
      try q.processAllAvailable() finally q.stop()
    }
    val full = ex.getMessage +
      Option(ex.getCause).map(_.getMessage).getOrElse("")
    assert(full.contains("renamed columns"), s"got: $full")
  }
}
