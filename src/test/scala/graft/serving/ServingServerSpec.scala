package graft.serving

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI
import java.time.Instant

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.SharedSpark.spark
import graft.streaming.{JdbcUpsert, WeatherPipeline}

/** The dashboard-serving contract (reference server.js:34-110 +
  * index.html:336-339 retention): a long-lived HTTP process over the
  * keyed aggregate store. Asserts exact response JSON (the reference
  * shape is part of the API), since-filtering, per-city retention, the
  * TTL snapshot, and the full loop stream → Derby upsert → HTTP.
  */
class ServingServerSpec extends AnyFunSuite {
  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def ts(iso: String) = java.sql.Timestamp.from(Instant.parse(iso))

  private def staticSource() = Seq(
    ("A", 10.5, ts("2024-01-01T10:00:00Z")),
    ("A", 11.0, ts("2024-01-01T10:00:05Z")),
    ("B", 20.0, ts("2024-01-01T10:00:03Z")),
    ("D", 99.0, ts("2024-01-01T10:00:03Z")) // not a configured city
  ).toDF("city", "avg_temperature", "last_updated")

  test("GET /api/weather renders the reference JSON shape; /health; unknown city empty") {
    val srv = new ServingServer(() => staticSource(), Seq("A", "B", "C"), refreshMs = 0L)
    try {
      assert(get(srv.boundPort, "/health") == (200, """{"status":"ok"}"""))
      val (code, body) = get(srv.boundPort, "/api/weather")
      assert(code == 200)
      assert(body ==
        """{"cities":["A","B","C"],"data":{""" +
        """"A":[{"time":"2024-01-01T10:00:00Z","temperature":10.5},""" +
        """{"time":"2024-01-01T10:00:05Z","temperature":11.0}],""" +
        """"B":[{"time":"2024-01-01T10:00:03Z","temperature":20.0}],""" +
        """"C":[]}}""")
    } finally srv.close()
  }

  test("GET /api/weather/latest?since=… returns only strictly-newer points; bad since is 400") {
    val srv = new ServingServer(() => staticSource(), Seq("A", "B"), refreshMs = 0L)
    try {
      val (c1, b1) = get(srv.boundPort,
        "/api/weather/latest?since=2024-01-01T10:00:03Z")
      assert(c1 == 200)
      assert(b1 ==
        """{"cities":["A","B"],"data":{""" +
        """"A":[{"time":"2024-01-01T10:00:05Z","temperature":11.0}],"B":[]}}""")
      // no since → everything (epoch default, server.js:72)
      val (_, all) = get(srv.boundPort, "/api/weather/latest")
      assert(all.contains("10:00:00Z") && all.contains("10:00:03Z"))
      assert(get(srv.boundPort, "/api/weather/latest?since=yesterday")._1 == 400)
    } finally srv.close()
  }

  test("per-city retention keeps the newest N ascending (dashboard slice(-100) parity)") {
    val n = 105
    val pts = (0 until n).map(i =>
      ("A", i.toDouble, ts(f"2024-01-01T${10 + i / 3600}%02d:${(i / 60) % 60}%02d:${i % 60}%02dZ")))
    val srv = new ServingServer(() => pts.toDF("city", "avg_temperature", "last_updated"),
      Seq("A"), refreshMs = 0L, retention = 100)
    try {
      val (_, body) = get(srv.boundPort, "/api/weather")
      val temps = """"temperature":([0-9.]+)""".r
        .findAllMatchIn(body).map(_.group(1).toDouble).toVector
      assert(temps == (5 until n).map(_.toDouble).toVector,
        "oldest 5 dropped, rest ascending by time")
    } finally srv.close()
  }

  test("TTL snapshot: requests between refreshes reuse the cache; invalidate re-queries") {
    var temp = 1.0
    def src() = Seq(("A", temp, ts("2024-01-01T10:00:00Z")))
      .toDF("city", "avg_temperature", "last_updated")
    val srv = new ServingServer(() => src(), Seq("A"), refreshMs = 3600_000L)
    try {
      assert(get(srv.boundPort, "/api/weather")._2.contains("\"temperature\":1.0"))
      temp = 2.0
      assert(get(srv.boundPort, "/api/weather")._2.contains("\"temperature\":1.0"),
        "within the TTL the snapshot must not re-query the store")
      srv.invalidate()
      assert(get(srv.boundPort, "/api/weather")._2.contains("\"temperature\":2.0"))
    } finally srv.close()

    // a load slower than the TTL: the TTL runs from the end of the load,
    // so the requests right after it are served from the snapshot
    val loads = new java.util.concurrent.atomic.AtomicInteger()
    val slow = new ServingServer(() => {
      Thread.sleep(1500); loads.incrementAndGet(); src()
    }, Seq("A"), refreshMs = 1000L)
    try {
      assert(get(slow.boundPort, "/api/weather")._1 == 200)
      val loaded = System.nanoTime()
      (1 to 3).foreach(_ => assert(get(slow.boundPort, "/api/weather")._1 == 200))
      val elapsedMs = (System.nanoTime() - loaded) / 1000000L
      assert(loads.get == 1, s"${loads.get} loads: a request within the TTL reloaded")
      assert(elapsedMs < 1000L, s"three snapshot requests took $elapsedMs ms")
    } finally slow.close()
  }

  test("full loop: stream → windowed agg → Derby upsert → HTTP serving") {
    val dir = "/tmp/graft_derby/serving"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
    val url = s"jdbc:derby:$dir;create=true"
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[WeatherPipeline.WeatherRecord]
    val q = JdbcUpsert.run(input.toDF(), url, "weather_aggregates")
    try {
      input.addData(
        WeatherPipeline.WeatherRecord("A", "10.0", "2024-01-01 10:00:01"),
        WeatherPipeline.WeatherRecord("A", "30.0", "2024-01-01 10:00:02"),
        WeatherPipeline.WeatherRecord("B", "7.0", "2024-01-01 10:00:06"))
      q.processAllAvailable()
      val srv = new ServingServer(
        () => JdbcUpsert.readBack(spark, url, "weather_aggregates"),
        Seq("A", "B"), refreshMs = 0L)
      try {
        val (code, body) = get(srv.boundPort, "/api/weather")
        assert(code == 200)
        // last_updated is store-stamped wall clock — assert values, not times
        assert(body.contains("\"temperature\":20.0"), s"A window avg in $body")
        assert(body.contains("\"temperature\":7.0"), s"B window avg in $body")
      } finally srv.close()
    } finally q.stop()
  }
}
