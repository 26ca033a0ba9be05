package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, sf}

/** The two keyed sketch ops that run on Spark's built-in sketches:
  * quantile_tdigest (KLL) and approx_top_users (`approx_top_k`).
  */
class SketchOpsSpec extends AnyFunSuite {
  import spark.implicits._

  test("every KLL quantile is rank-error-bounded against the exact data (20 runs)") {
    // KLL compaction is randomized, so one passing run proves little:
    // every run of every group must hold the op's 0.05 rank bound. The
    // groups are the adversarial orders for a compacting sketch —
    // ascending and descending input (range partitions also give each
    // task a disjoint value band, so the merge joins unlike sketches),
    // a heavy tail spanning ~9 orders of magnitude, an interleave of two
    // far-apart bands — plus one group small enough to stay exact.
    val n = 5000L
    val adversarial = spark.range(0, n, 1, 4).select(
        lit("asc").as("event_type"), ($"id" * 0.5).as("value"))
      .union(spark.range(0, n, 1, 4).select(
        lit("desc").as("event_type"), (lit(n) - $"id").cast("double").as("value")))
      .union(spark.range(0, n, 1, 4).select(
        lit("heavy_tail").as("event_type"), exp($"id" / 250.0).as("value")))
      .union(spark.range(0, n, 1, 4).select(
        lit("interleaved").as("event_type"),
        when($"id" % 2 === 0, $"id".cast("double"))
          .otherwise(lit(1e9) + $"id").as("value")))
      .union(spark.range(0, 100, 1, 2).select(
        lit("small").as("event_type"), ($"id" * 3.0).as("value")))
    // the driver data's own groups ride along in the same input
    val events = graft.sources.Tables.events(spark, sf).select($"event_type", $"value")
    val input = adversarial.union(events)
    val expectedN = events.groupBy($"event_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap ++
      Map("asc" -> n, "desc" -> n, "heavy_tail" -> n, "interleaved" -> n, "small" -> 100L)
    for (run <- 1 to 20) {
      val got = TemporalJoins.quantileRankCheck(input).collect()
      assert(got.map(r => r.getString(0) -> r.getLong(1)).toMap == expectedN)
      got.foreach { r =>
        assert(r.getBoolean(2) && r.getBoolean(3) && r.getBoolean(4),
          s"run $run, group ${r.getString(0)} (n=${r.getLong(1)}): rank bound violated")
      }
    }
  }

  test("keyed query matches exact top-10 (plan runs ObjectHashAggregate partial+final)") {
    val q = graft.operators.TemporalJoins.ops
      .find(_.key == "approx_top_users").get.run(spark, sf)
    val got = q.collect().map(r => (r.getString(0), r.getLong(1)))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("approx_top_k") && plan.contains("ObjectHashAggregate"), plan)
    val exact = graft.sources.Tables.events(spark, sf)
      .groupBy($"user_id".cast("string").as("user")).count()
      .orderBy($"count".desc, $"user").limit(10)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    assert(got.toSeq === exact.toSeq)
  }

  test("top users: a 10th/11th-place tie breaks on the user's string form") {
    // users 1..8 lead (30..23 events), user 20 is 9th (21), users 9 and
    // 10 and a null user tie at 20: "10" < "9" as strings, so "10" is
    // 10th — a numeric tie-break would pick 9, and the null group sorts
    // last, as in the oracle's DuckDB ORDER BY
    val counts = (1 to 8).map(u => Option(u.toLong) -> (31 - u)) ++
      Seq(Some(20L) -> 21, Some(9L) -> 20, Some(10L) -> 20, None -> 20, Some(11L) -> 5)
    val events = counts.flatMap { case (u, c) => Seq.fill(c)(u) }
      .toDF("user_id").repartition(4)
    val got = TemporalJoins.topUsers(events).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(got === (1 to 8).map(u => (u.toString, (31 - u).toLong)) ++
      Seq(("20", 21L), ("10", 20L)))
  }

  test("distributed partial+final agrees with exact counts in exact regime") {
    // 16 partial sketches merged: with fewer distinct items than the
    // tracked size, every merged count is exact
    val got = (1L to 10000L).map(i => i % 100).toDF("v").repartition(16)
      .agg(expr("approx_top_k(v, 256, 256)").as("tk"))
      .select(explode($"tk").as("e"))
      .select($"e.item", $"e.count")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size === 100)
    assert(got.values.forall(_ === 100L))
  }
}
