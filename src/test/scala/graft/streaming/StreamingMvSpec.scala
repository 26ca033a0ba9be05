package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, tempDir}
import graft.sources.LakeIO
import graft.syntax._

/** Continuous MV maintenance from the change data feed: every mutation
  * kind — append, CoW merge/delete, MoR deletion vector — streams
  * through one feed and the maintained hourly state stays EXACTLY equal
  * to a full re-aggregation of the table; restarts resume from the
  * checkpointed offset and replayed batches are idempotent.
  */
class StreamingMvSpec extends AnyFunSuite {

  private val testRoot = tempDir("streaming_mv").toString

  private val root = s"$testRoot/smv/events"
  private val ckpt = s"$testRoot/smv/ckpt"
  private val state = s"$testRoot/smv/state"

  private def rm(p: String): Unit = {
    def go(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(go)); f.delete()
    }
    go(new java.io.File(p))
  }

  private def batch(fromId: Long, n: Long) =
    spark.range(fromId, fromId + n).select(
      $"id".as("event_id"),
      expr("timestampadd(MINUTE, CAST(id % 120 AS INT), timestamp'2024-05-01 00:00:00')")
        .as("ts"),
      ($"id" % 97).cast("double").as("value"))

  /** Exact expectation: full re-aggregation of the table's current state. */
  private def direct: Seq[(String, Long, BigDecimal, Double, Double)] = rows(
    LakeIO.hourlyAggState(LakeIO.readMoR(spark, root)))

  private def maintained: Seq[(String, Long, BigDecimal, Double, Double)] =
    rows(StreamingMv.latestState(spark, state))

  private def rows(df: DataFrame) = df.orderBy($"ts_hour").collect().toSeq
    .map(r => (r.getString(0), r.getLong(1),
      BigDecimal(r.getDecimal(2)), r.getDouble(3), r.getDouble(4)))

  test("appends, CoW delete, merge and MoR delete all keep the state exact") {
    rm(root); rm(ckpt); rm(state)
    LakeIO.writeLake(batch(0, 200), root)                       // v1
    val q = StreamingMv.maintainHourlyAgg(spark, root, state, ckpt)
    try {
      q.processAllAvailable()
      assert(maintained.nonEmpty && maintained === direct, "backfill")

      LakeIO.evolveAppend(batch(1000, 50), root)                // v2 append
      q.processAllAvailable()
      assert(maintained === direct, "append")

      LakeIO.deleteWhere(spark, root, $"event_id" % 7 === 0)    // v3 CoW
      q.processAllAvailable()
      assert(maintained === direct, "CoW delete (incl. per-hour extremes)")

      LakeIO.mergeInto(spark, root,                             // v4 merge
        batch(0, 30).withColumn("value", $"value" + 1000.0), "event_id")
      q.processAllAvailable()
      assert(maintained === direct, "CoW merge upsert")

      LakeIO.deleteWhereMoR(spark, root, $"value" > 1050.0)     // v5 DV
      q.processAllAvailable()
      assert(maintained === direct, "MoR deletion vector")
    } finally q.stop()
  }

  test("restart resumes from the checkpoint; catch-up batch nets in-flight pairs") {
    rm(root); rm(ckpt); rm(state)
    LakeIO.writeLake(batch(0, 100), root)                       // v1
    val q1 = StreamingMv.maintainHourlyAgg(spark, root, state, ckpt)
    try { q1.processAllAvailable() } finally q1.stop()
    assert(maintained === direct)

    // three commits while the maintainer is DOWN — the catch-up batch
    // unions their diffs; insert-then-mutate pairs inside it must net
    LakeIO.evolveAppend(batch(5000, 40), root)                  // v2
    LakeIO.mergeInto(spark, root,                               // v3 updates v2 rows
      batch(5000, 40).withColumn("value", $"value" + 9999.0), "event_id")
    LakeIO.deleteWhere(spark, root, $"event_id" >= 5020L)       // v4 deletes half
    val q2 = StreamingMv.maintainHourlyAgg(spark, root, state, ckpt)
    try { q2.processAllAvailable() } finally q2.stop()
    assert(StreamingMv.latestVersion(state).contains(4))
    assert(maintained === direct, "multi-commit catch-up")

    // replayed batch is a no-op (versioned _SUCCESS-guarded state)
    val before = maintained
    val q3 = StreamingMv.maintainHourlyAgg(spark, root, state, ckpt)
    try { q3.processAllAvailable() } finally q3.stop()
    assert(maintained === before)

    // a RESTORE flows through the same feed: its diff is deletes of the
    // rolled-back content + re-inserts of the restored generation, and
    // the maintained state must land exactly on the restored table
    org.apache.spark.sql.graft.ManifestFileIndex.restoreTo(root, 1)
    val q4 = StreamingMv.maintainHourlyAgg(spark, root, state, ckpt)
    try { q4.processAllAvailable() } finally q4.stop()
    assert(maintained === direct, "restore through the changefeed")
  }
}
