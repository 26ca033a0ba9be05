package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.SharedSpark.{spark, tempDir}
import graft.sources.LakeIO
import graft.syntax._

/** The lake as a Structured Streaming SOURCE: snapshot versions are
  * offsets, manifest diffs are micro-batches — Delta streaming-table
  * semantics (backfill first, then exactly the appended files, restart
  * resumes from the checkpointed version with no re-delivery).
  */
class GraftLakeStreamSpec extends AnyFunSuite {

  private val testRoot = tempDir("graft_lake_stream").toString

  private val root = s"$testRoot/stream_src/events"
  private val ckpt = s"$testRoot/stream_src/ckpt"
  private val out = s"$testRoot/stream_src/out"

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

  test("lake streaming source: backfill, per-snapshot increments, checkpoint restart") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 100), root)                    // v1
    def startQuery() = spark.readStream.format("graft-lake-stream").load(root)
      .select($"event_id")
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    def sunk = spark.read.parquet(out)
    val q = startQuery()
    try {
      q.processAllAvailable()
      // first batch = the full backfill (version 0 -> head)
      assert(sunk.count() === 100L)
      LakeIO.evolveAppend(batch(100, 50), root)              // v2
      q.processAllAvailable()
      assert(sunk.count() === 150L)
      // increment only -- no event_id delivered twice
      assert(sunk.select($"event_id").distinct().count() === 150L)
    } finally q.stop()

    // append while the stream is DOWN, then restart from the checkpoint:
    // only the unseen snapshot arrives (no backfill re-delivery)
    LakeIO.evolveAppend(batch(150, 30), root)                // v3
    val q2 = startQuery()
    try {
      q2.processAllAvailable()
      assert(sunk.count() === 180L, "restart must deliver only the unseen snapshot")
      assert(sunk.select($"event_id").distinct().count() === 180L)
    } finally q2.stop()
  }

  test("a CoW change commit in the streamed range fails loudly; skipChangeCommits streams past it") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 100), root)                    // v1 (append)
    LakeIO.mergeInto(spark, root,                            // v2 (CHANGE: rewrites files)
      batch(0, 10).withColumn("value", $"value" + 1000.0), "event_id")
    LakeIO.evolveAppend(batch(100, 20), root)                // v3 (append)

    // default: the stream must refuse to silently re-deliver the rewrite
    val q = spark.readStream.format("graft-lake-stream").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      q.processAllAvailable()
    }
    q.stop()
    assert(e.getMessage.contains("not append-only")
      || Option(e.getCause).exists(_.getMessage.contains("not append-only")),
      s"must name the change commit: ${e.getMessage}")

    // opt-in: change commit v2 skipped WHOLE (no rewritten partitions as
    // phantom inserts), appends v1 + v3 delivered
    rm(ckpt); rm(out)
    val q2 = spark.readStream.format("graft-lake-stream")
      .option("skipChangeCommits", "true").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q2.processAllAvailable()
      val sunk = spark.read.parquet(out)
      assert(sunk.count() === 120L, "v1 backfill (100) + v3 append (20), v2 skipped")
      assert(sunk.select($"event_id").distinct().count() === 120L)
      assert(sunk.where($"value" > 999.0).count() === 0L,
        "the merge's rewritten rows must not leak through")
    } finally q2.stop()
  }

  test("maxFilesPerTrigger chunks backfill and catch-up by snapshot version") {
    rm(root); rm(ckpt); rm(out)
    LakeIO.writeLake(batch(0, 100), root)                    // v1
    LakeIO.evolveAppend(batch(100, 50), root)                // v2
    LakeIO.evolveAppend(batch(150, 30), root)                // v3
    val q = spark.readStream.format("graft-lake-stream")
      .option("maxFilesPerTrigger", "1").load(root)
      .writeStream.format("parquet").option("path", out)
      .option("checkpointLocation", ckpt)
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      assert(spark.read.parquet(out).count() === 180L)
      // admission control: 3 versions at ≥1 file each under a 1-file cap
      // must take ≥3 micro-batches (one unbounded batch would be 1)
      assert(q.recentProgress.count(_.numInputRows > 0) >= 3,
        q.recentProgress.map(_.numInputRows).mkString("batches: ", ",", ""))
    } finally q.stop()
  }

  test("branch / row-set-selecting reader options refuse to stream") {
    // The version-offset stream plans from HEAD manifest diffs; a
    // `.option("branch", …)` readStream (branch resolves to stagedAsOf)
    // would silently stream MAIN's commits while claiming to read the
    // branch — the r10 invariant applied to the streaming source.
    val root2 = s"$testRoot/stream_src/branch_refuse"
    rm(root2)
    LakeIO.writeLake(batch(0, 10), root2)
    LakeIO.appendToBranch(batch(10, 5), root2, "exp")
    Seq("branch" -> "exp", "stagedAsOf" -> "b-exp-0",
        "versionAsOf" -> "1").foreach { case (opt, v) =>
      val e = intercept[Exception] {
        val q = spark.readStream.format("graft-lake-stream")
          .option(opt, v).load(root2)
          .writeStream.format("noop").start()
        try q.processAllAvailable() finally q.stop()
      }
      def chain(t: Throwable): List[Throwable] =
        if (t == null) Nil else t :: chain(t.getCause)
      assert(chain(e).exists(_.getMessage != null) &&
        chain(e).flatMap(t => Option(t.getMessage)).mkString("\n")
          .contains("selects a fixed row set"),
        s"option $opt must refuse to stream: ${e.getMessage}")
    }
    // the plain head stream on the same table still runs
    val q = spark.readStream.format("graft-lake-stream").load(root2)
      .writeStream.format("noop").start()
    try {
      q.processAllAvailable()
    } finally q.stop()
  }

  test("readStream.schema() must match the committed schema or fail loudly") {
    rm(root)
    LakeIO.writeLake(batch(0, 10), root)
    val wrong = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("nope",
        org.apache.spark.sql.types.LongType)))
    val e = intercept[Exception] {
      spark.readStream.format("graft-lake-stream").schema(wrong).load(root)
    }
    assert(e.getMessage.contains("does not match"), e.getMessage)
  }
}
