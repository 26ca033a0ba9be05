package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, tempDir}
import graft.sources.LakeIO
import graft.syntax._

/** The streaming CHANGE DATA FEED: CoW mutations (merge, delete) stream
  * as exact row-level delete+insert pairs with commit attribution;
  * physical rewrites (compaction) stream as NOTHING; restarts resume
  * from the checkpointed version.
  */
class GraftLakeCdfSpec extends AnyFunSuite {

  private val testRoot = tempDir("graft_lake_cdf").toString

  private val root = s"$testRoot/cdf_src/events"
  private val ckpt = s"$testRoot/cdf_src/ckpt"
  private val out = s"$testRoot/cdf_src/out"

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

  private def startQuery() = spark.readStream.format("graft-lake-cdf").load(root)
    .writeStream.format("parquet").option("path", out)
    .option("checkpointLocation", ckpt)
    .outputMode("append").start()

  private def sunk = spark.read.parquet(out)

  test("branch / row-set-selecting reader options refuse to drive the change feed") {
    // The CDF streams MAIN's commit log; a `branch` / travel / change-
    // range option would be silently ignored (the feed would deliver
    // main-head changes while claiming a branch or pinned version) —
    // the MetadataOnlyCount decline-guard invariant applied to the one
    // remaining reader. startingVersion stays the legitimate knob.
    val root2 = s"$testRoot/cdf_src/branch_refuse"
    rm(root2)
    LakeIO.writeLake(batch(0, 10), root2)
    LakeIO.appendToBranch(batch(10, 5), root2, "exp")
    Seq("branch" -> "exp", "stagedAsOf" -> "b-exp-0", "versionAsOf" -> "1",
        "timestampAsOf" -> "2024-01-01", "changesFrom" -> "0").foreach {
      case (opt, v) =>
        val e = intercept[IllegalArgumentException] {
          spark.readStream.format("graft-lake-cdf").option(opt, v).load(root2)
        }
        assert(e.getMessage.contains("selects a fixed row set"),
          s"option $opt must refuse: ${e.getMessage}")
    }
    // the plain feed (and startingVersion) on the same table still runs
    val q = spark.readStream.format("graft-lake-cdf")
      .option("startingVersion", 0).load(root2)
      .writeStream.format("noop").start()
    try q.processAllAvailable() finally q.stop()
  }

  test("CDF stream: backfill inserts, merge as delete+insert, delete, compaction silent") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 100), root)                        // v1 append
    val q = startQuery()
    try {
      q.processAllAvailable()
      // backfill: the whole table as version-1 inserts
      assert(sunk.count() === 100L)
      assert(sunk.where($"change" === "insert" && $"_commit_version" === 1L)
        .count() === 100L)

      // v2: merge updates 10 rows -> 10 deletes (old) + 10 inserts (new);
      // the ~90 rows merely REWRITTEN by copy-on-write must not appear
      LakeIO.mergeInto(spark, root,
        batch(0, 10).withColumn("value", $"value" + 1000.0), "event_id")
      q.processAllAvailable()
      val v2 = sunk.where($"_commit_version" === 2L)
      assert(v2.count() === 20L, "10 updates = 10 deletes + 10 inserts, no carried rows")
      assert(v2.where($"change" === "delete").count() === 10L)
      assert(v2.where($"change" === "insert" && $"value" > 999.0).count() === 10L)

      // v3: DELETE WHERE streams as pure deletes
      LakeIO.deleteWhere(spark, root, $"event_id" >= 95L && $"event_id" < 100L)
      q.processAllAvailable()
      val v3 = sunk.where($"_commit_version" === 3L)
      assert(v3.count() === 5L)
      assert(v3.where($"change" =!= "delete").count() === 0L)

      // v4: compaction is a physical rewrite -- logically SILENT
      LakeIO.compactSnapshots(spark, root)
      q.processAllAvailable()
      assert(sunk.where($"_commit_version" === 4L).count() === 0L,
        "a compaction commit must stream zero changes")
    } finally q.stop()
  }

  test("restart resumes from the checkpointed version; catch-up keeps per-commit attribution") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 50), root)                         // v1
    val q = startQuery()
    try { q.processAllAvailable() } finally q.stop()
    assert(sunk.count() === 50L)

    // two commits while the stream is DOWN: one update of the same key
    // twice -> catch-up must show BOTH updates, each under its own commit
    LakeIO.mergeInto(spark, root,
      batch(0, 1).withColumn("value", lit(111.0)), "event_id")   // v2
    LakeIO.mergeInto(spark, root,
      batch(0, 1).withColumn("value", lit(222.0)), "event_id")   // v3
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(sunk.count() === 50L + 2L + 2L, "no backfill re-delivery on restart")
      assert(sunk.where($"_commit_version" === 2L && $"change" === "insert")
        .select($"value").collect().map(_.getDouble(0)).toSeq === Seq(111.0))
      assert(sunk.where($"_commit_version" === 3L && $"change" === "insert")
        .select($"value").collect().map(_.getDouble(0)).toSeq === Seq(222.0))
      // and the intermediate state 111.0 is v3's delete side
      assert(sunk.where($"_commit_version" === 3L && $"change" === "delete")
        .select($"value").collect().map(_.getDouble(0)).toSeq === Seq(111.0))
    } finally q2.stop()
  }

  test("startingVersion skips the backfill and streams only future commits") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 40), root)                         // v1
    val q = spark.readStream.format("graft-lake-cdf")
      .option("startingVersion", "1").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(Option(new java.io.File(out).listFiles()).getOrElse(Array.empty)
        .forall(!_.getName.endsWith(".parquet")),
        "nothing to stream at head = startingVersion")
      LakeIO.evolveAppend(batch(40, 5), root)                    // v2
      q.processAllAvailable()
      assert(sunk.count() === 5L)
      assert(sunk.where($"change" === "insert" && $"_commit_version" === 2L)
        .count() === 5L)
    } finally q.stop()
  }

  test("startingVersion accepts a tag name: the feed resumes from the tagged release") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 40), root)                         // v1
    LakeIO.tagSnapshot(root, "cdf-release")                      // tag v1
    LakeIO.evolveAppend(batch(40, 7), root)                      // v2
    val q = spark.readStream.format("graft-lake-cdf")
      .option("startingVersion", "cdf-release").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      // only v2's insert rows stream — the tagged release is the baseline
      assert(sunk.count() === 7L)
      assert(sunk.where($"change" === "insert" && $"_commit_version" === 2L)
        .count() === 7L)
    } finally q.stop()
  }

  test("maxVersionsPerTrigger chunks catch-up into per-commit micro-batches") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 30), root)                         // v1
    LakeIO.evolveAppend(batch(30, 10), root)                     // v2
    LakeIO.mergeInto(spark, root,
      batch(0, 5).withColumn("value", $"value" + 900.0), "event_id") // v3
    val q = spark.readStream.format("graft-lake-cdf")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(sunk.count() === 30L + 10L + 10L)
      assert(sunk.select($"_commit_version").distinct().count() === 3L)
      // one commit per micro-batch under the cap
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).mkString("batches: ", ",", ""))
    } finally q.stop()
  }

  test("the streamed feed equals the batch changefeed across the same range") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 60), root)                         // v1
    LakeIO.mergeInto(spark, root,
      batch(5, 10).withColumn("value", $"value" + 500.0), "event_id") // v2
    val q = startQuery()
    try { q.processAllAvailable() } finally q.stop()
    val streamed = sunk.where($"_commit_version" === 2L)
      .select($"event_id", $"value", $"change")
      .orderBy($"event_id", $"change", $"value").collect().toSeq
    val batchFeed = LakeIO.readChanges(spark, root, 1, 2)
      .select($"event_id", $"value", $"change")
      .orderBy($"event_id", $"change", $"value").collect().toSeq
    assert(streamed === batchFeed)
  }

  test("a merge-on-read delete streams as exact row-level deletes (DV commit)") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 80), root)                         // v1 append
    val n = LakeIO.deleteWhereMoR(spark, root, $"event_id" % 7 === 0L) // v2: DV only
    assert(n > 0, "fixture must delete something")
    LakeIO.appendTxn(batch(1000, 10), root)                      // v3 append (carries DV)
    val q = startQuery()
    try { q.processAllAvailable() } finally q.stop()
    // the DV commit is NOT an empty batch: its logically-deleted rows
    // stream as deletes with exact commit attribution
    val dvBatch = sunk.where($"_commit_version" === 2L)
    assert(dvBatch.where($"change" === "insert").count() === 0L)
    assert(dvBatch.where($"change" === "delete").count() === n)
    assert(dvBatch.where($"change" === "delete" && $"event_id" % 7 === 0L)
      .count() === n, "deleted rows must be exactly the predicate's")
    // the later append streams its own rows only — DV'd positions of v2
    // never resurface
    val v3 = sunk.where($"_commit_version" === 3L)
    assert(v3.where($"change" === "insert").count() === 10L)
    assert(v3.where($"change" === "delete").count() === 0L)
    // replaying a keyed consumer over the whole feed reconstructs readMoR
    val replayed = sunk.groupBy($"event_id").agg(
      sum(when($"change" === "insert", 1L).otherwise(-1L)).as("net"))
      .where($"net" > 0L).count()
    assert(replayed === LakeIO.readMoR(spark, root).count())
  }
}
