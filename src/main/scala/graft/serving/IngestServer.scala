package graft.serving

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.sun.net.httpserver.HttpExchange

import graft.serving.Http.respond

/** The HTTP ingest edge: `GET /log?city=…&temperature=…` validates,
  * stamps a second-precision `ts`, and hands the record to the
  * transport — the reference's logging-server (server.py:42-99:
  * presence validation → 400 on a missing param, record
  * `{city, temperature:str, ts:"yyyy-MM-dd HH:mm:ss"}` → Kafka,
  * `{"status":"success",…,"data":record}` on 200; `/health` →
  * `{"status":"healthy"}`).
  *
  * Spark-first re-expression, zero new dependencies: the JDK HttpServer
  * writes each accepted record as one JSON-lines file into a SPOOL
  * DIRECTORY via atomic temp-file + rename — exactly the
  * [[graft.streaming.Sources.SourceConf.FileDrop]] transport the
  * streaming pipeline already reads, so
  * `IngestServer → Sources.stream(file(dir)) → WeatherPipeline →
  * JdbcUpsert → ServingServer` is the reference's full loop
  * (client → HTTP → Kafka → Flink → Postgres → dashboard) in one JVM.
  * The rename is the commit point: Spark's file source never sees a
  * half-written file. On a cluster the same handler body produces to
  * Kafka through the seam's kafka config — the endpoint contract
  * (validation, stamping, response JSON) is transport-independent.
  *
  * `clock` is injectable so tests stamp deterministic timestamps; the
  * default is wall clock in the JVM zone (server.py:65
  * `datetime.now()`).
  *
  * The server binds through [[Http.bind]], which turns on TCP_NODELAY
  * for every JDK `HttpServer` in the JVM, so back-to-back requests on one
  * keep-alive connection are not held back by delayed ACKs.
  */
final class IngestServer(
    spoolDir: String,
    port: Int = 0,
    clock: () => String = () => java.time.LocalDateTime.now()
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")))
    extends AutoCloseable {

  Files.createDirectories(Paths.get(spoolDir))
  private val seq = new java.util.concurrent.atomic.AtomicLong(0L)

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

  private def queryParam(x: HttpExchange, name: String): Option[String] =
    Option(x.getRequestURI.getRawQuery).iterator
      .flatMap(_.split('&')).map(_.split("=", 2))
      .collectFirst { case Array(k, v) if k == name =>
        java.net.URLDecoder.decode(v, StandardCharsets.UTF_8)
      }.filter(_.nonEmpty)

  /** Atomic spool append: write `<uuid>.tmp`, rename to `.json` — the
    * file-drop commit protocol (readers list only completed names).
    */
  private def spool(line: String): Unit = {
    val name = s"ingest-${java.util.UUID.randomUUID()}-${seq.incrementAndGet()}"
    val tmp = Paths.get(spoolDir, s".$name.tmp")
    Files.write(tmp, (line + "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(spoolDir, s"$name.json"),
      StandardCopyOption.ATOMIC_MOVE)
    ()
  }

  private val http = Http.bind(port)
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
  http.setExecutor(pool)

  http.createContext("/health", (x: HttpExchange) =>
    respond(x, 200, """{"status":"healthy"}"""))

  http.createContext("/log", (x: HttpExchange) =>
    try {
      (queryParam(x, "city"), queryParam(x, "temperature")) match {
        case (Some(city), Some(temp)) =>
          val record =
            s"""{"city":"${esc(city)}","temperature":"${esc(temp)}","ts":"${esc(clock())}"}"""
          spool(record)
          respond(x, 200,
            s"""{"status":"success","message":"Weather data logged","data":$record}""")
        case _ =>
          respond(x, 400,
            """{"status":"error","message":"Missing required parameters: city and temperature"}""")
      }
    } catch {
      case scala.util.control.NonFatal(e) =>
        respond(x, 500,
          s"""{"status":"error","message":"${esc(String.valueOf(e.getMessage))}"}""")
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
