package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.LocalFs
import graft.syntax._

/** Streaming parity with the reference's speed layer
  * (reference: flink/sql/weather-aggregation.sql:1-49): JSON-ish records →
  * computed event_time (sql:6) → 5 s watermark (sql:7) → 5 s tumbling
  * window × city → AVG + COUNT (sql:41-49) → keyed upsert sink with
  * PRIMARY KEY (city, window_start) (sql:20-35, init-analytics-db.sql:9).
  *
  * Spark mapping: `withWatermark` + `window()` + `outputMode("update")` +
  * `foreachBatch` keyed upsert. Late rows beyond the watermark are dropped
  * by the streaming aggregation state (T3); window refinements re-emit
  * under update mode and overwrite by key (T4), exactly like Flink's
  * retract-to-JDBC-upsert path.
  */
object WeatherPipeline {

  /** Raw record shape on the wire (reference: server.py:63-70). */
  case class WeatherRecord(city: String, temperature: String, ts: String)

  /** Parse + validate: computed event-time column, string→double cast,
    * tolerant rejection of malformed rows (sql:6,15-16, server.py:54-61).
    */
  def parse(df: DataFrame): DataFrame =
    df.withColumn("event_time", to_timestamp($"ts", "yyyy-MM-dd HH:mm:ss"))
      .withColumn("temp_d", expr("try_cast(temperature AS DOUBLE)"))
      .where($"city".isNotNull && $"temp_d".isNotNull && $"event_time".isNotNull)

  /** 5 s tumble × city → AVG/COUNT with bounded lateness. */
  def windowedAgg(parsed: DataFrame, watermark: String = "5 seconds"): DataFrame =
    parsed
      .withWatermark("event_time", watermark)
      .groupBy(window($"event_time", "5 seconds"), $"city")
      .agg(avg($"temp_d").as("avg_temperature"), count(lit(1)).as("record_count"))
      .select($"city", $"window.start".as("window_start"),
        $"window.end".as("window_end"), $"avg_temperature", $"record_count",
        // P4 audit column (weather-aggregation.sql:45 CURRENT_TIMESTAMP)
        current_timestamp().as("last_updated"))

  /** STREAMING SESSION WINDOWS (T7's streaming form): per-city sessions
    * that close after `gap` of silence — Spark's native `session_window`
    * state MERGES a session as later micro-batches extend it (start
    * pinned, end/count growing), and emits each session exactly once,
    * when the watermark passes its close (append mode — the only output
    * mode streaming session aggregation supports). Rows later than the
    * watermark drop exactly as in the tumbling pipeline. Batch twin:
    * `session_window_stats` (EventOps, oracle-checked); the stateful
    * merge across micro-batches is asserted in StreamingSpec.
    */
  def sessionAgg(parsed: DataFrame, gap: String = "10 seconds",
      watermark: String = "5 seconds"): DataFrame =
    parsed
      .withWatermark("event_time", watermark)
      .groupBy(session_window($"event_time", gap), $"city")
      .agg(avg($"temp_d").as("avg_temperature"), count(lit(1)).as("record_count"))
      .select($"city", $"session_window.start".as("session_start"),
        $"session_window.end".as("session_end"), $"avg_temperature",
        $"record_count")

  /** Wire source → session agg → append-mode sink (sessions emit once,
    * fully merged, on watermark close).
    */
  def runSessions(source: DataFrame, sink: DataFrame => Unit,
      gap: String = "10 seconds",
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    sessionAgg(parse(source), gap)
      .writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => sink(batch) }
      .start()

  /** Keyed upsert store — the test stand-in for the reference's Postgres
    * sink (PRIMARY KEY (city, window_start)). Writes happen PARTITION-SIDE
    * via `foreachPartition`: each task resolves its target by id and
    * upserts its own rows, so the driver is never in the data path (no
    * `collect()`). A production deployment replaces the registry lookup in
    * the partition body with "open JDBC connection, batched MERGE" — the
    * exact same shape.
    *
    * The closure captures only the store id (a Long); tasks resolve the
    * backing map through the companion registry (same JVM in local mode;
    * a real cluster's version of this lookup is the JDBC connection pool).
    */
  final class UpsertStore {
    private val id = UpsertStore.register()
    def upsert(batch: DataFrame): Unit = {
      val storeId = id
      batch.foreachPartition { (rows: Iterator[Row]) =>
        val m = UpsertStore.resolve(storeId)
        rows.foreach { r =>
          m.put((r.getAs[String]("city"), r.getAs[java.sql.Timestamp]("window_start")),
            (r.getAs[java.sql.Timestamp]("window_end"),
              r.getAs[Double]("avg_temperature"), r.getAs[Long]("record_count")))
        }
      }
    }
    def snapshot: Map[(String, java.sql.Timestamp), (java.sql.Timestamp, Double, Long)] =
      UpsertStore.resolve(id).toMap
    def size: Int = UpsertStore.resolve(id).size
  }

  object UpsertStore {
    type K = (String, java.sql.Timestamp)
    type V = (java.sql.Timestamp, Double, Long)
    private val nextId = new java.util.concurrent.atomic.AtomicLong(0L)
    private val stores =
      scala.collection.concurrent.TrieMap[Long, scala.collection.concurrent.TrieMap[K, V]]()
    private def register(): Long = {
      val id = nextId.getAndIncrement()
      stores.put(id, scala.collection.concurrent.TrieMap[K, V]())
      id
    }
    private[WeatherPipeline] def resolve(id: Long): scala.collection.concurrent.TrieMap[K, V] =
      stores(id)
  }

  /** Stream-static enrichment join: every micro-batch joins the live
    * stream against the lake dimension re-read from its CURRENT commit
    * manifest — so appends and CoW merges committed between micro-batches
    * are visible to the running stream without a restart (a statically
    * resolved DataFrame would pin the manifest read at query start). The
    * dimension broadcasts: the stream side never shuffles, and at 100 TB
    * the per-batch cost is one small manifest read + a broadcast of the
    * dim, not a scan of anything stream-sized.
    */
  def enrichWithLake(source: DataFrame, lakePath: String, key: String,
      trigger: Trigger = Trigger.ProcessingTime(0))(
      sink: DataFrame => Unit): StreamingQuery =
    parse(source)
      .writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val dim = org.apache.spark.sql.functions.broadcast(
          batch.sparkSession.read.format("graft-lake").load(lakePath))
        sink(batch.toDF().join(dim, Seq(key), "left"))
      }
      .start()

  /** Wire source → agg → upsert sink; update mode (T4), per-micro-batch
    * commit cadence via trigger (T5).
    */
  def run(source: DataFrame, store: UpsertStore,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    windowedAgg(parse(source))
      .writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => store.upsert(batch) }
      .start()

  /** S6 streaming lake sink: hour-partitioned parquet micro-batch commits
    * (reference: register-connector.sh:19-45 Iceberg sink, 10 s cadence).
    */
  def lakeSink(source: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    parse(source)
      .withColumn("ts_hour", date_format($"event_time", "yyyy-MM-dd-HH"))
      .writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .options(LocalFs.WriteOptions)
      .option("compression", "zstd")
      .partitionBy("ts_hour")
      .format("parquet")
      .start(path)

  /** [[lakeSink]] + table metadata, EXACTLY-ONCE: each micro-batch lands
    * through [[graft.sources.LakeIO.appendExactlyOnce]] — batch files are
    * batchId-named, the commit manifest is the idempotency ledger, and a
    * replayed micro-batch (foreachBatch is at-least-once under crash
    * recovery) is a no-op instead of a duplicate append. graft-lake V2
    * readers of the LIVE table plan from metadata (zero listing) and see
    * each batch exactly once — the streaming side of the Iceberg-commit
    * parity (register-connector.sh:30 commits on the same cadence).
    */
  def lakeSinkCommitted(source: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery =
    parse(source)
      .withColumn("ts_hour", date_format($"event_time", "yyyy-MM-dd-HH"))
      .writeStream
      .outputMode("append")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sources.LakeIO.appendExactlyOnce(path, batch.toDF(), batchId)
      }
      .start()

  /** Streaming UPSERT sink to the lake: the windowed aggregate in update
    * mode lands each micro-batch as an idempotent CoW MERGE on the
    * (city, window-start) primary key — the reference's Postgres
    * ON CONFLICT DO UPDATE sink (init-analytics-db.sql:9) re-expressed as
    * a snapshot-versioned table. Window refinements overwrite their key's
    * row; replayed batches are no-ops via the txn marker; every batch is
    * a time-travelable snapshot and only update-touched hour partitions
    * rewrite (the window column doubles as the partition time).
    */
  def lakeUpsertSink(source: DataFrame, path: String, checkpoint: String,
      trigger: Trigger = Trigger.ProcessingTime(0),
      strategy: String = "cow"): StreamingQuery =
    windowedAgg(parse(source))
      .select($"city", $"window_start".as("ts"), $"window_end",
        $"avg_temperature", $"record_count")
      .writeStream
      .outputMode("update")
      .trigger(trigger)
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        graft.sources.LakeIO.mergeExactlyOnce(batch.sparkSession, path,
          batch.toDF(), Seq("city", "ts"), batchId, strategy)
      }
      .start()
}
