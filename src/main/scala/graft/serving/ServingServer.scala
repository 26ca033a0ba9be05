package graft.serving

import java.nio.charset.StandardCharsets
import java.time.Instant

import com.sun.net.httpserver.HttpExchange
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.serving.Http.respond

/** The serving HTTP layer: a long-lived process answering the dashboard's
  * poll loop from the keyed aggregate store — the reference's
  * visualization-server (server.js:34-110: `GET /api/weather`,
  * `GET /api/weather/latest?since=…`, `GET /health`; index.html:336-339
  * last-100-per-city retention; index.html:451-453 2 s poll cadence).
  *
  * Spark-first re-expression, zero new dependencies: the JDK's built-in
  * `com.sun.net.httpserver` fronts ANY bounded keyed DataFrame — the
  * Derby serving table ([[graft.streaming.JdbcUpsert.readBack]], the
  * Flink→Postgres analog), a graft-lake table, or an in-memory state
  * view. Response shape is byte-compatible with the reference:
  * `{"cities":[…],"data":{city:[{"time":iso,"temperature":n},…]}}`,
  * every configured city present (empty array when it has no points),
  * points ascending by time within a city.
  *
  * SERVING BOUNDARY, not a query path: each refresh runs one Spark query
  * that filters to the configured cities and keeps the newest
  * `retention` points per city (the dashboard's own retention), then
  * collects ≤ cities×retention rows — the same bounded result set the
  * reference's Express handler pulls from Postgres per request. The raw
  * event stream never reaches this process; the upstream keyed upsert
  * sink has already reduced it to (city × window) rows.
  *
  * Scale shape: requests between refreshes are O(1) driver-memory reads
  * of an immutable snapshot (the TTL equals the dashboard's poll
  * interval, so the store sees at most one query per cadence regardless
  * of connected clients); the server holds no state beyond that
  * snapshot, so replicas scale horizontally behind a balancer, all
  * reading the same store.
  *
  * The server binds through [[Http.bind]], which turns on TCP_NODELAY
  * for every JDK `HttpServer` in the JVM (a dashboard's keep-alive polls
  * are otherwise held back ~40 ms by delayed ACKs).
  */
final class ServingServer(
    source: () => DataFrame,
    cities: Seq[String],
    refreshMs: Long = 2000L,
    retention: Int = 100,
    port: Int = 0) extends AutoCloseable {

  private case class Point(city: String, time: Instant, temp: Double)

  // (loadedAtMillis, points asc by (city order, time)); immutable snapshot.
  // Sentinel is MinValue/2, NOT MinValue: `now - loadedAt` must not
  // overflow (now − MinValue wraps negative and the TTL check would
  // never fire — the server would serve empty data forever).
  @volatile private var cache: (Long, Vector[Point]) = (Long.MinValue / 2, Vector.empty)
  private val refreshLock = new Object

  /** One bounded query against the store: normalize column case (Derby
    * upper-cases identifiers on read-back), filter to the serving city
    * list (server.js:40 `WHERE city = ANY($1)`), keep the newest
    * `retention` per city — the row_number window runs over the already
    * key-bounded store, never raw data — and return ascending by time
    * (server.js:41 `ORDER BY city, last_updated ASC`).
    */
  private def load(): Vector[Point] = {
    val df = source()
    def col0(want: String) = df.columns.find(_.equalsIgnoreCase(want)).getOrElse(
      sys.error(s"serving source lacks column '$want' (has ${df.columns.mkString(",")})"))
    val base = df.select(
      col(col0("city")).cast("string").as("city"),
      col(col0("avg_temperature")).cast("double").as("temp"),
      col(col0("last_updated")).cast("timestamp").as("t"))
      .where(col("city").isin(cities: _*) && col("t").isNotNull)
    val recent = base
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("city")).orderBy(col("t").desc)))
      .where(col("rn") <= retention)
      .orderBy(col("city"), col("t"))
    recent.collect().iterator.map { r =>
      Point(r.getString(0), r.getTimestamp(2).toInstant, r.getDouble(1))
    }.toVector
  }

  /** The TTL runs from the start of a load, so the store sees one query
    * per `refreshMs`; a load that outlasted `refreshMs` runs it from its
    * end instead — stamped at its start, that snapshot would already be
    * stale and every following request would reload.
    */
  private def snapshot(): Vector[Point] = {
    val now = System.currentTimeMillis()
    if (now - cache._1 >= refreshMs) refreshLock.synchronized {
      if (now - cache._1 >= refreshMs) {
        val start = System.currentTimeMillis()
        val points = load()
        val end = System.currentTimeMillis()
        cache = (if (end - start >= refreshMs) end else start, points)
      }
    }
    cache._2
  }

  /** Drop the TTL state so the next request re-queries the store. */
  def invalidate(): Unit = refreshLock.synchronized {
    cache = (Long.MinValue / 2, Vector.empty)
  }

  private def esc(s: String): String = {
    val b = new StringBuilder
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.result()
  }

  /** `{"cities":[…],"data":{…}}` — city order is the configured order,
    * absent cities render `[]` (server.js:45-48 pre-seeds every city).
    */
  private def render(points: Vector[Point]): String = {
    val byCity = points.groupBy(_.city)
    val data = cities.map { c =>
      val arr = byCity.getOrElse(c, Vector.empty).map { p =>
        // a raw NaN/Infinity token is invalid JSON — render null instead
        val t = if (java.lang.Double.isFinite(p.temp)) p.temp.toString else "null"
        s"""{"time":"${p.time.toString}","temperature":$t}"""
      }.mkString(",")
      s""""${esc(c)}":[$arr]"""
    }.mkString(",")
    val cs = cities.map(c => s""""${esc(c)}"""").mkString(",")
    s"""{"cities":[$cs],"data":{$data}}"""
  }

  private def queryParam(x: HttpExchange, name: String): Option[String] =
    Option(x.getRequestURI.getRawQuery).iterator
      .flatMap(_.split('&')).map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }

  private val http = Http.bind(port)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  http.setExecutor(pool)

  http.createContext("/health", (x: HttpExchange) =>
    respond(x, 200, """{"status":"ok"}"""))

  // full history (bounded by retention) — server.js:35-67
  http.createContext("/api/weather", (x: HttpExchange) =>
    try {
      if (x.getRequestURI.getPath == "/api/weather/latest") {
        // incremental poll: only points strictly after `since`
        // (server.js:70-103; absent → epoch, i.e. everything)
        queryParam(x, "since").map(s => scala.util.Try(Instant.parse(s))) match {
          case Some(scala.util.Failure(_)) =>
            respond(x, 400, """{"error":"bad since timestamp"}""")
          case other =>
            val since = other.flatMap(_.toOption).getOrElse(Instant.EPOCH)
            respond(x, 200, render(snapshot().filter(_.time.isAfter(since))))
        }
      } else respond(x, 200, render(snapshot()))
    } catch {
      case scala.util.control.NonFatal(e) =>
        respond(x, 500, s"""{"error":"${esc(String.valueOf(e.getMessage))}"}""")
    })

  http.start()

  /** Bound port (ephemeral when constructed with port=0). */
  def boundPort: Int = http.getAddress.getPort

  override def close(): Unit = {
    http.stop(0)
    pool.shutdownNow()
    ()
  }
}
