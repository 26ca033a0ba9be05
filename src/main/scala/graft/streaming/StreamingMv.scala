package graft.streaming

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{DoubleType, StringType, StructField, StructType}

import graft.sources.{LakeIO, LocalFs}
import graft.syntax._

/** CONTINUOUS materialized-view maintenance: the lake's change data feed
  * (`graft-lake-cdf`) drives the hourly-aggregate state through the same
  * CDC refresh algebra the batch maintainer uses — count/sum invert
  * exactly (decimal-sum recipe), max/min recompute only the hours a
  * delete actually touched, reading just those partitions AS OF the
  * batch's last commit. This is the streaming leg of the reference's
  * aggregate-serving loop (Flink windowed agg → sink-connector upserts,
  * flink/sql/weather-aggregation.sql:42-49) re-expressed lake-side: the
  * stream consumes COMMITS, not records, so every mutation kind —
  * append, CoW merge/delete, MoR deletion vector — flows through one
  * feed and the state stays exact, not eventually-consistent.
  *
  * State layout mirrors [[graft.plans.Mv]]: one parquet dir per applied
  * commit version (`hourly_v<N>`), `_SUCCESS`-guarded write-once — a
  * replayed micro-batch after a restart re-resolves to the already-
  * written version and skips the work, so exactly-once state comes from
  * the checkpointed CDF offsets plus idempotent versioned writes (the
  * classic Delta foreachBatch recipe). Readers take [[latestState]];
  * concurrent readers of an older version keep their files (write-once,
  * never overwritten).
  *
  * 100 TB: per micro-batch cost is O(changed rows) + O(extreme-touched
  * hours' partitions) + the hours-sized state — never a base rescan; the
  * state writes hash-partitioned on the MV key like every MV write.
  */
object StreamingMv {

  private val stateSchema = StructType(Seq(
    StructField("ts_hour", StringType), StructField("value", DoubleType)))

  /** Highest applied commit version (from the state dir names). */
  def latestVersion(statePath: String): Option[Int] =
    Option(new File(statePath).listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("hourly_v") &&
        new File(f, "_SUCCESS").exists())
      .flatMap(_.getName.stripPrefix("hourly_v").toIntOption)
      .sorted.lastOption

  /** The current maintained state (empty, correctly-typed frame before
    * the first applied commit).
    */
  def latestState(s: SparkSession, statePath: String): DataFrame =
    latestVersion(statePath) match {
      case Some(v) => s.read.parquet(s"$statePath/hourly_v$v")
      case None => LakeIO.hourlyAggState(
        s.createDataFrame(s.sparkContext.emptyRDD[Row], stateSchema))
    }

  /** Start the maintainer: stream `basePath`'s changefeed and keep the
    * hourly aggregate state under `statePath` current. Backfills the
    * whole table as version-1 inserts by default (`startingVersion`
    * option semantics of the CDF source apply).
    */
  def maintainHourlyAgg(s: SparkSession, basePath: String, statePath: String,
      checkpoint: String, maxVersionsPerTrigger: Option[Int] = None): StreamingQuery = {
    val reader = s.readStream.format("graft-lake-cdf")
    maxVersionsPerTrigger.foreach(k =>
      reader.option("maxVersionsPerTrigger", k.toString))
    reader.load(basePath).writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        applyBatch(s, basePath, statePath, batch)
      }
      .start()
  }

  /** Apply one CDF micro-batch to the state — exposed for tests. */
  private[streaming] def applyBatch(s: SparkSession, basePath: String,
      statePath: String, batch: DataFrame): Unit = {
    // hours-bounded driver read: the batch's last commit version pins the
    // AS-OF for extreme-hour recomputes (reading head instead could leak
    // a commit the feed has not delivered yet)
    val maxV = batch.agg(max($"_commit_version")).collect().head
    if (maxV.isNullAt(0)) return          // empty batch (e.g. compaction)
    val toV = maxV.getLong(0).toInt
    val outDir = s"$statePath/hourly_v$toV"
    if (new File(outDir, "_SUCCESS").exists()) return   // replayed batch
    // NET the batch first: a catch-up batch unions PER-COMMIT diffs (for
    // replay attribution), so a row inserted by commit v and deleted by
    // v+1 inside the same batch survives as a pair — which would poison
    // the safe-branch extremes (greatest(p.mx, ins_mx) of a value that
    // no longer exists). Netting restores the endpoint-diff contract the
    // refresh algebra assumes (readChanges nets identically).
    val keyCols = batch.columns
      .filterNot(Set("change", "_commit_version")).map(col).toSeq
    val netted = batch
      .withColumn("__w", when($"change" === "insert", 1L).otherwise(-1L))
      .groupBy(keyCols: _*).agg(sum($"__w").as("__net"))
      .where($"__net" =!= 0L)
      .withColumn("change", when($"__net" > 0L, "insert").otherwise("delete"))
      .withColumn("__i", explode(sequence(lit(1L), abs($"__net"))))
      .drop("__net", "__i")
    val next = LakeIO.refreshHourlyAggChanges(
      latestState(s, statePath),
      netted,
      hours => s.read.format("graft-lake")
        .option("versionAsOf", toV.toString).load(basePath)
        .join(broadcast(hours), Seq("ts_hour")))
    next.repartition(col("ts_hour")).sortWithinPartitions($"ts_hour")
      .write.options(LocalFs.WriteOptions)
      .mode("overwrite").option("compression", "zstd").parquet(outDir)
  }
}
