package graft.serving

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** What [[IngestServer]] and [[ServingServer]] share of the JDK
  * `HttpServer`.
  */
private[serving] object Http {

  /** A server on 127.0.0.1:`port` (0 = ephemeral) with TCP_NODELAY on
    * its accepted sockets. The JDK server writes a response's headers
    * and body as two segments; without TCP_NODELAY the body waits for
    * the client's delayed ACK (~40 ms), so every request after the first
    * on a keep-alive connection stalls that long.
    *
    * The switch is the system property `sun.net.httpserver.nodelay`,
    * which the JDK reads once, when the first `HttpServer` of the JVM is
    * created. It is therefore JVM-wide: it applies to every JDK
    * `HttpServer` in the process, and has no effect if another one was
    * created before the first call here.
    */
  def bind(port: Int): HttpServer = {
    System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  def respond(x: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    x.getResponseHeaders.set("Content-Type", "application/json")
    x.sendResponseHeaders(code, bytes.length.toLong)
    try x.getResponseBody.write(bytes) finally x.close()
  }
}
