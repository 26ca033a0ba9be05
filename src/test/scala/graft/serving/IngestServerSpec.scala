package graft.serving

import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URI

import org.scalatest.funsuite.AnyFunSuite

import graft.SharedSpark.{spark, tempDir}
import graft.streaming.{JdbcUpsert, Sources}

/** The HTTP ingest edge (reference logging-server/server.py:42-99):
  * validation, ts stamping, response JSON, atomic spool commit — and the
  * reference's ENTIRE pipeline in one JVM: HTTP client → ingest server →
  * file-drop transport → Structured Streaming windowed agg → Derby keyed
  * upsert → dashboard HTTP serving.
  */
class IngestServerSpec extends AnyFunSuite {
  private val testRoot = tempDir("ingest_server").toString

  import spark.implicits._

  private val client = HttpClient.newHttpClient()

  private def get(port: Int, path: String): (Int, String) = {
    val r = client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def freshDir(name: String): String = {
    val dir = s"$testRoot/$name"
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
    }
    rm(new java.io.File(dir))
    dir
  }

  test("GET /log validates, stamps ts, spools an atomic JSON-lines file; /health") {
    val dir = freshDir("basic")
    val srv = new IngestServer(dir, clock = () => "2024-01-01 10:00:01")
    try {
      assert(get(srv.boundPort, "/health") == (200, """{"status":"healthy"}"""))
      val (code, body) = get(srv.boundPort, "/log?city=Boston&temperature=75.5")
      assert(code == 200)
      assert(body ==
        """{"status":"success","message":"Weather data logged",""" +
        """"data":{"city":"Boston","temperature":"75.5","ts":"2024-01-01 10:00:01"}}""")
      // the spool is the FileDrop transport: batch-readable with the wire schema
      val rows = spark.read.schema(Sources.WireSchema).json(dir)
        .as[(String, String, String)].collect().toSet
      assert(rows == Set(("Boston", "75.5", "2024-01-01 10:00:01")))
      // no half-written files left behind
      assert(!new java.io.File(dir).listFiles().exists(_.getName.endsWith(".tmp")))
    } finally srv.close()
  }

  test("missing or empty params are 400 with the reference message; nothing spooled") {
    val dir = freshDir("invalid")
    val srv = new IngestServer(dir)
    try {
      val expected = (400,
        """{"status":"error","message":"Missing required parameters: city and temperature"}""")
      assert(get(srv.boundPort, "/log?city=Boston") == expected)
      assert(get(srv.boundPort, "/log?temperature=75.5") == expected)
      assert(get(srv.boundPort, "/log?city=&temperature=75.5") == expected)
      assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".json")) == 0)
    } finally srv.close()
  }

  test("url-encoded values and JSON-special characters survive the round trip") {
    val dir = freshDir("escape")
    val srv = new IngestServer(dir, clock = () => "2024-01-01 10:00:01")
    try {
      val (code, _) = get(srv.boundPort,
        "/log?city=S%C3%A3o%20%22Quote%22%5CPaulo&temperature=20.0")
      assert(code == 200)
      val city = spark.read.schema(Sources.WireSchema).json(dir)
        .select("city").as[String].collect().head
      assert(city == "São \"Quote\"\\Paulo")
    } finally srv.close()
  }

  test("back-to-back requests on one keep-alive connection are not held back") {
    val dir = freshDir("keepalive")
    val srv = new IngestServer(dir)
    val sock = new java.net.Socket("127.0.0.1", srv.boundPort)
    try {
      val out = sock.getOutputStream
      val in = new java.io.DataInputStream(
        new java.io.BufferedInputStream(sock.getInputStream))
      def line(): String = {
        val b = new StringBuilder
        var c = in.read()
        while (c != '\n' && c != -1) { if (c != '\r') b.append(c.toChar); c = in.read() }
        b.result()
      }
      // one request on the open connection; returns (status line, ms)
      def roundTrip(i: Int): (String, Double) = {
        val t0 = System.nanoTime()
        out.write((s"GET /log?city=C$i&temperature=$i HTTP/1.1\r\n" +
          "Host: 127.0.0.1\r\n\r\n").getBytes("US-ASCII"))
        out.flush()
        val status = line()
        val headers = Iterator.continually(line()).takeWhile(_.nonEmpty).toSeq
        val length = headers.collectFirst {
          case h if h.toLowerCase.startsWith("content-length:") => h.drop(15).trim.toInt
        }.get
        in.readFully(new Array[Byte](length))
        (status, (System.nanoTime() - t0) / 1e6)
      }
      // the producer's batch shape: 10 records back to back
      val runs = (1 to 10).map(roundTrip)
      assert(runs.forall(_._1.startsWith("HTTP/1.1 200")))
      val median = runs.map(_._2).sorted.apply(runs.size / 2)
      assert(median < 20.0, s"per-request ms: ${runs.map(_._2).mkString(", ")}")
      assert(new java.io.File(dir).listFiles().count(_.getName.endsWith(".json")) == 10)
    } finally { sock.close(); srv.close() }
  }

  test("full reference loop: HTTP ingest -> file-drop stream -> windowed agg -> Derby -> dashboard HTTP") {
    val dir = freshDir("loop")
    val derby = freshDir("loop_db")
    val url = s"jdbc:derby:$derby;create=true"
    // deterministic stamps: one per request, in order
    val stamps = Iterator("2024-01-01 10:00:01", "2024-01-01 10:00:02", "2024-01-01 10:00:06")
    val ingest = new IngestServer(dir, clock = () => stamps.synchronized(stamps.next()))
    val q = JdbcUpsert.run(
      Sources.stream(spark, Sources.SourceConf.file(dir)), url, "weather_aggregates")
    try {
      assert(get(ingest.boundPort, "/log?city=A&temperature=10.0")._1 == 200)
      assert(get(ingest.boundPort, "/log?city=A&temperature=30.0")._1 == 200)
      assert(get(ingest.boundPort, "/log?city=B&temperature=7.0")._1 == 200)
      q.processAllAvailable()
      val dash = new ServingServer(
        () => JdbcUpsert.readBack(spark, url, "weather_aggregates"),
        Seq("A", "B"), refreshMs = 0L)
      try {
        val (code, body) = get(dash.boundPort, "/api/weather")
        assert(code == 200)
        assert(body.contains("\"temperature\":20.0"), s"A 5s-window avg in $body")
        assert(body.contains("\"temperature\":7.0"), s"B window avg in $body")
      } finally dash.close()
    } finally { q.stop(); ingest.close() }
  }
}
