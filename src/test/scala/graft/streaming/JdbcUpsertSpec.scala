package graft.streaming

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SharedSpark.{spark, tempDir}
import graft.streaming.WeatherPipeline._

/** PK-upsert semantics through a REAL JDBC store (embedded Derby): the
  * update-mode windowed aggregate MERGEs each micro-batch on
  * (city, window_start) — refinements overwrite their key's row, new
  * windows insert, and the table reads back through Spark's JDBC source.
  * The in-JVM [[WeatherPipeline.UpsertStore]] asserts the same contract
  * in StreamingSpec; this spec proves the batched-MERGE writer itself.
  */
class JdbcUpsertSpec extends AnyFunSuite {
  private val testRoot = tempDir("jdbc_upsert").toString

  import spark.implicits._
  implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private def freshUrl(name: String): String = {
    val dir = s"$testRoot/$name"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(new java.io.File(dir))
    s"jdbc:derby:$dir;create=true"
  }

  test("windowed agg upserts into Derby on PK (city, window_start); refinement overwrites") {
    val url = freshUrl("upsert")
    val input = MemoryStream[WeatherRecord]
    val q = JdbcUpsert.run(input.toDF(), url, "weather_aggregates")
    try {
      input.addData(
        WeatherRecord("A", "10.0", "2024-01-01 10:00:01"),
        WeatherRecord("B", "30.0", "2024-01-01 10:00:06"))
      q.processAllAvailable()
      // same A-window, next micro-batch → MERGE must overwrite, not insert
      input.addData(WeatherRecord("A", "30.0", "2024-01-01 10:00:02"))
      q.processAllAvailable()

      val rows = JdbcUpsert.readBack(spark, url, "weather_aggregates")
        .collect().map(r => (r.getAs[String]("CITY"),
          r.getAs[java.sql.Timestamp]("WINDOW_START"),
          r.getAs[Double]("AVG_TEMPERATURE"),
          r.getAs[Long]("RECORD_COUNT"))).toSet
      assert(rows.size == 2, s"one row per PK, got $rows")
      assert(rows.contains(("A", ts("2024-01-01 10:00:00"), 20.0, 2L)),
        "refinement must overwrite the A-window row")
      assert(rows.contains(("B", ts("2024-01-01 10:00:05"), 30.0, 1L)))
    } finally q.stop()
  }

  test("replayed batch is idempotent (MERGE by key converges); last_updated is stamped") {
    val url = freshUrl("replay")
    JdbcUpsert.ensureTable(url, "weather_aggregates")
    val batch = Seq(
      ("A", ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:05"), 15.0, 2L),
      ("C", ts("2024-01-01 10:00:05"), ts("2024-01-01 10:00:10"), 7.0, 1L))
      .toDF("city", "window_start", "window_end", "avg_temperature", "record_count")
    JdbcUpsert.upsert(batch, url, "weather_aggregates")
    JdbcUpsert.upsert(batch, url, "weather_aggregates") // at-least-once replay
    val back = JdbcUpsert.readBack(spark, url, "weather_aggregates").collect()
    assert(back.length == 2, "replay must not duplicate rows")
    assert(back.forall(_.getAs[java.sql.Timestamp]("LAST_UPDATED") != null),
      "audit column stamped by the store")
  }

  test("ensureTable is idempotent") {
    val url = freshUrl("ddl")
    JdbcUpsert.ensureTable(url, "weather_aggregates")
    JdbcUpsert.ensureTable(url, "weather_aggregates")
    assert(JdbcUpsert.readBack(spark, url, "weather_aggregates").count() == 0)
  }
}
