package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The REAL serving-store sink: the windowed aggregate lands in an
  * embedded-Derby table through partition-side batched `MERGE` statements
  * on PRIMARY KEY (city, window_start) — the reference's Flink→JDBC
  * upsert path (reference: flink/sql/weather-aggregation.sql:19-35 sink
  * with `sink.upsert-materialize`, postgres/init-analytics-db.sql:2-10
  * `PRIMARY KEY (city, window_start)` + ON CONFLICT semantics) with a
  * real database in the loop instead of [[WeatherPipeline.UpsertStore]]'s
  * in-JVM registry (kept for tests; both sit behind the same
  * `foreachBatch` seam).
  *
  * Scale shape: every TASK opens its own connection and executes ONE
  * batched MERGE per partition (addBatch/executeBatch, single commit) —
  * the driver is never in the data path, and per-micro-batch JDBC cost is
  * O(changed keys / parallelism) round trips, exactly how a production
  * JDBC sink against Postgres/MySQL is written. Swapping Derby for
  * another database is a URL + dialect change in one place.
  */
object JdbcUpsert {

  /** Columns of the serving table, in MERGE parameter order. */
  private val MergeSql =
    """MERGE INTO %s t USING SYSIBM.SYSDUMMY1
      |ON t.city = CAST(? AS VARCHAR(128)) AND t.window_start = CAST(? AS TIMESTAMP)
      |WHEN MATCHED THEN UPDATE SET
      |  window_end = CAST(? AS TIMESTAMP),
      |  avg_temperature = CAST(? AS DOUBLE),
      |  record_count = CAST(? AS BIGINT),
      |  last_updated = CURRENT_TIMESTAMP
      |WHEN NOT MATCHED THEN INSERT
      |  (city, window_start, window_end, avg_temperature, record_count, last_updated)
      |  VALUES (CAST(? AS VARCHAR(128)), CAST(? AS TIMESTAMP), CAST(? AS TIMESTAMP),
      |          CAST(? AS DOUBLE), CAST(? AS BIGINT), CURRENT_TIMESTAMP)""".stripMargin

  private def connect(url: String): java.sql.Connection = {
    // embedded driver self-registers on first load; loading it explicitly
    // keeps executor-side first use race-free
    Class.forName("org.apache.derby.jdbc.EmbeddedDriver")
    java.sql.DriverManager.getConnection(url)
  }

  /** CREATE the serving table if absent (Derby has no IF NOT EXISTS —
    * the duplicate-object error is the idempotence signal). DDL parity:
    * init-analytics-db.sql:2-10.
    */
  def ensureTable(url: String, table: String): Unit = {
    val c = connect(url)
    try {
      val st = c.createStatement()
      try st.executeUpdate(
        s"""CREATE TABLE $table (
           |  city VARCHAR(128) NOT NULL,
           |  window_start TIMESTAMP NOT NULL,
           |  window_end TIMESTAMP,
           |  avg_temperature DOUBLE,
           |  record_count BIGINT,
           |  last_updated TIMESTAMP,
           |  PRIMARY KEY (city, window_start))""".stripMargin)
      catch {
        case e: java.sql.SQLException if e.getSQLState == "X0Y32" => () // exists
      } finally st.close()
    } finally c.close()
  }

  /** Upsert one micro-batch: partition-side batched MERGE, one commit per
    * partition. A failed partition rolls back atomically. On a cluster
    * the engine then retries the task, and since MERGE is idempotent by
    * key, at-least-once task attempts converge. Under `local[n]` a
    * failed task is not retried (local mode ignores
    * `spark.task.maxFailures`; only `local[n,f]` allows f attempts):
    * the job fails, and in a streaming query the query stops with it; a
    * restart replays the batch from its checkpoint, which the same
    * idempotence makes safe.
    */
  def upsert(batch: DataFrame, url: String, table: String): Unit = {
    val sql = MergeSql.format(table)
    batch.foreachPartition { (rows: Iterator[Row]) =>
      if (rows.nonEmpty) {
        val c = connect(url)
        try {
          c.setAutoCommit(false)
          val ps = c.prepareStatement(sql)
          try {
            rows.foreach { r =>
              val city = r.getAs[String]("city")
              val ws = r.getAs[java.sql.Timestamp]("window_start")
              ps.setString(1, city); ps.setTimestamp(2, ws)
              ps.setTimestamp(3, r.getAs[java.sql.Timestamp]("window_end"))
              ps.setDouble(4, r.getAs[Double]("avg_temperature"))
              ps.setLong(5, r.getAs[Long]("record_count"))
              ps.setString(6, city); ps.setTimestamp(7, ws)
              ps.setTimestamp(8, r.getAs[java.sql.Timestamp]("window_end"))
              ps.setDouble(9, r.getAs[Double]("avg_temperature"))
              ps.setLong(10, r.getAs[Long]("record_count"))
              ps.addBatch()
            }
            ps.executeBatch()
            c.commit()
          } finally ps.close()
        } finally c.close()
      }
    }
  }

  /** Wire source → parse → watermark/window agg → JDBC keyed upsert:
    * [[WeatherPipeline.run]] with the real store. Update-mode window
    * refinements MERGE over their key, late rows drop at the watermark —
    * the exact Flink retract-to-JDBC-upsert contract.
    */
  def run(source: DataFrame, url: String, table: String,
      trigger: Trigger = Trigger.ProcessingTime(0)): StreamingQuery = {
    ensureTable(url, table)
    WeatherPipeline.windowedAgg(WeatherPipeline.parse(source))
      .writeStream
      .outputMode("update")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => upsert(batch, url, table) }
      .start()
  }

  /** Read the serving table back as a DataFrame (Spark's JDBC source) —
    * the dashboard-query side of the reference (server.js:23-40).
    */
  def readBack(spark: SparkSession, url: String, table: String): DataFrame =
    spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("driver", "org.apache.derby.jdbc.EmbeddedDriver")
      .load()
}
