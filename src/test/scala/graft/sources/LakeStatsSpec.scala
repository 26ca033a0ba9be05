package graft.sources

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{GraftLakeScan, ManifestFileIndex}
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, GreaterThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.types.LongType

import graft.SharedSpark.{spark, sf, tempDir}
import graft.syntax._

/** File-level min/max skipping from manifest column metrics: a pushed
  * long-column predicate eliminates whole files at PLANNING time.
  */
class LakeStatsSpec extends AnyFunSuite {

  private val testRoot = tempDir("lake_stats").toString

  private lazy val path = LakeIO.ensureLake(spark, sf)

  test("commit records INT64 stats per file in the manifest") {
    val (_, entries) = ManifestFileIndex.read(path).get
    assert(entries.nonEmpty)
    assert(entries.forall(_.stats.contains("event_id")),
      "every committed file must carry event_id bounds")
    entries.foreach { e =>
      val (mn, mx) = e.stats("event_id")
      assert(mn <= mx)
    }
  }

  test("requiredBounds extracts conjunct ranges on long columns only") {
    val id = AttributeReference("event_id", LongType)()
    val b = ManifestFileIndex.requiredBounds(Seq(
      GreaterThan(id, Literal(10L)), LessThanOrEqual(id, Literal(99L))))
    assert(b === Map("event_id" -> (11L, 99L)))
    val s = AttributeReference("name", org.apache.spark.sql.types.StringType)()
    assert(ManifestFileIndex.requiredBounds(
      Seq(GreaterThan(s, Literal("x")))).isEmpty)
  }

  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Int = {
    // queries with an exchange (e.g. a keyed op's ORDER BY) plan under
    // AdaptiveSparkPlanExec, whose tree isn't visible to collectFirst —
    // unwrap to the current physical plan first
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val scan = plan.collectFirst {
      case b: BatchScanExec => b.scan
    }.get.asInstanceOf[GraftLakeScan]
    scan.toBatch.planInputPartitions().map {
      case fp: FilePartition => fp.files.length
      case _ => 0
    }.sum
  }

  test("a pushed event_id range plans fewer files than the full scan") {
    def lake = spark.read.format("graft-lake").load(path)
    val all = plannedFiles(lake.select($"event_id", $"value"))
    // event_ids are time-ordered, so a small-id range lives in few hours
    val narrow = plannedFiles(
      lake.where($"event_id" <= 50L).select($"event_id", $"value"))
    assert(all > 0 && narrow > 0)
    assert(narrow < all, s"expected file skipping: $narrow < $all")
    // correctness unchanged
    val n = lake.where($"event_id" <= 50L).count()
    assert(n === Tables.events(spark, sf).where($"event_id" <= 50L).count())
  }

  test("requiredInSets extracts IN-list points; conjuncts intersect") {
    import org.apache.spark.sql.catalyst.expressions.In
    val id = AttributeReference("user_id", LongType)()
    val in = ManifestFileIndex.requiredInSets(Seq(
      In(id, Seq(Literal(3L), Literal(7L), Literal(9L)))))
    assert(in === Map("user_id" -> Set(3L, 7L, 9L)))
    // two IN conjuncts on the same column intersect
    val both = ManifestFileIndex.requiredInSets(Seq(
      In(id, Seq(Literal(3L), Literal(7L))),
      In(id, Seq(Literal(7L), Literal(9L)))))
    assert(both === Map("user_id" -> Set(7L)))
    // a non-literal member disables extraction (conservative)
    assert(ManifestFileIndex.requiredInSets(
      Seq(In(id, Seq(Literal(3L), id)))).isEmpty)
  }

  test("an IN-list point lookup plans fewer files than the full scan") {
    def lake = spark.read.format("graft-lake").load(path)
    val all = plannedFiles(lake.select($"event_id", $"value"))
    // two clustered points: event_ids are time-ordered, so both live in
    // a couple of hour files and every other file's bounds exclude them
    val probe = lake.where($"event_id".isin(5L, 17L))
      .select($"event_id", $"value")
    val planned = plannedFiles(probe)
    assert(planned > 0 && planned < all,
      s"expected IN-list skipping: $planned < $all")
    assert(probe.count() ===
      Tables.events(spark, sf).where($"event_id".isin(5L, 17L)).count())
  }

  test("keyed scan_stats_skip plans a fraction of the lake's files") {
    val df = graft.SparkEntry.queries("scan_stats_skip")(spark, sf)
    val all = plannedFiles(
      spark.read.format("graft-lake").load(path).select($"event_id", $"value"))
    val skip = plannedFiles(df)
    assert(skip > 0 && skip < all,
      s"stats skipping on the keyed op: $skip of $all files")
  }

  test("commit records UTF8 stats per file in the manifest") {
    val (_, entries) = ManifestFileIndex.read(path).get
    assert(entries.forall(_.strStats.contains("event_type")),
      "every committed file must carry event_type bounds")
    entries.foreach { e =>
      val (mn, mx) = e.strStats("event_type")
      assert(ManifestFileIndex.hexCompare(mn, mx) <= 0)
    }
  }

  test("requiredStrBounds extracts bounds on string columns; strict is widened") {
    val s = AttributeReference("cat", org.apache.spark.sql.types.StringType)()
    val hex = (v: String) => ManifestFileIndex.hexEncode(v.getBytes("UTF-8"))
    val eq = ManifestFileIndex.requiredStrBounds(
      Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(
        s, Literal(org.apache.spark.unsafe.types.UTF8String.fromString("b"),
          org.apache.spark.sql.types.StringType))))
    assert(eq === Map("cat" -> (Some(hex("b")), Some(hex("b")))))
    val gt = ManifestFileIndex.requiredStrBounds(Seq(GreaterThan(s,
      Literal(org.apache.spark.unsafe.types.UTF8String.fromString("m"),
        org.apache.spark.sql.types.StringType))))
    assert(gt === Map("cat" -> (Some(hex("m")), None)),
      "strict > keeps the conservative closed lower bound")
    // long columns never land in the string map
    val id = AttributeReference("event_id", LongType)()
    assert(ManifestFileIndex.requiredStrBounds(
      Seq(GreaterThan(id, Literal(10L)))).isEmpty)
  }

  test("a pushed string equality plans fewer files via UTF8 bounds") {
    // per-hour-distinct category → every file has a tight string range
    val catLake = s"$testRoot/strstats"
    val df = spark.range(4000).select(
      $"id".as("event_id"),
      expr("timestampadd(HOUR, CAST(id / 1000 AS INT), timestamp'2024-03-01 00:00:00')")
        .as("ts"),
      element_at(array(lit("alpha"), lit("beta"), lit("gamma"), lit("delta")),
        ($"id" / 1000).cast("int") + 1).as("category"),
      ($"id" % 97).cast("double").as("value"))
    LakeIO.writeLake(df, catLake)
    def lake = spark.read.format("graft-lake").load(catLake)
    val all = plannedFiles(lake.select($"event_id", $"category"))
    val one = plannedFiles(
      lake.where($"category" === "beta").select($"event_id", $"category"))
    assert(all >= 4, s"expected >=4 files, got $all")
    assert(one < all, s"expected string-stats skipping: $one < $all")
    assert(lake.where($"category" === "beta").count() === 1000L)
  }

  test("OPTIMIZE ZORDER tightens per-file bounds: a user_id probe plans fewer files") {
    val zLake = s"$testRoot/zopt"
    // 2 hour partitions, user_id uniform WITHIN each hour → pre-optimize,
    // every hour's single file spans the whole user_id domain and a
    // user_id probe can skip nothing
    val df = spark.range(8192).select(
      $"id".as("event_id"),
      expr("timestampadd(HOUR, CAST(id / 4096 AS INT), timestamp'2024-04-01 00:00:00')")
        .as("ts"),
      ($"id" % 4096).as("user_id"),
      ($"id" % 89).cast("double").as("value"))
    LakeIO.writeLake(df, zLake)
    def lake = spark.read.format("graft-lake").load(zLake)
    val allBefore = plannedFiles(lake.select($"event_id", $"user_id"))
    val probeBefore = plannedFiles(
      lake.where($"user_id" < 1000L).select($"event_id", $"user_id"))
    assert(probeBefore === allBefore, "pre-optimize, no file can be skipped")
    LakeIO.optimizeZOrder(spark, zLake, "user_id", "value", filesPerPartition = 4)
    val allAfter = plannedFiles(lake.select($"event_id", $"user_id"))
    val probeAfter = plannedFiles(
      lake.where($"user_id" < 1000L).select($"event_id", $"user_id"))
    assert(allAfter > allBefore, "optimize splits partitions into multiple z-files")
    assert(probeAfter < allAfter, s"z-order skipping: $probeAfter < $allAfter")
    // physical rewrite, logical no-op: rows identical, changefeed empty
    assert(lake.where($"user_id" < 1000L).count() === 2000L)
    assert(LakeIO.readChanges(spark, zLake, 1, 2).isEmpty)
    // DOUBLE bounds skip on the OTHER z dimension too
    val valProbe = plannedFiles(
      lake.where($"value" < 20.0).select($"event_id", $"value"))
    assert(valProbe < allAfter, s"double-stats skipping: $valProbe < $allAfter")
    assert(lake.where($"value" < 20.0).count() ===
      spark.range(8192).where($"id" % 89 < 20).count())
  }

  test("requiredDblBounds extracts double ranges; NaN literals add none") {
    val v = AttributeReference("value", org.apache.spark.sql.types.DoubleType)()
    val b = ManifestFileIndex.requiredDblBounds(Seq(
      GreaterThan(v, Literal(1.5)), LessThanOrEqual(v, Literal(9.25))))
    assert(b === Map("value" -> (1.5, 9.25)))
    assert(ManifestFileIndex.requiredDblBounds(
      Seq(GreaterThan(v, Literal(Double.NaN)))).isEmpty)
    // literal-on-left flips the bound direction
    val flipped = ManifestFileIndex.requiredDblBounds(
      Seq(GreaterThan(Literal(3.0), v)))
    assert(flipped === Map("value" -> (Double.NegativeInfinity, 3.0)))
  }
}
