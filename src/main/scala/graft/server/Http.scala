package graft.server

import java.net.{InetSocketAddress, URI}
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{Headers, HttpExchange, HttpServer}

/** The one HTTP host of [[RestApi]], [[GraphqlApi]], [[McpServer]] and
  * [[WebUi]]: the JDK HttpServer on 127.0.0.1, handlers run one at a time
  * on its dispatcher thread, each surface supplies only a route.
  *
  * Sockets get `TCP_NODELAY`: without it the JDK writes a response's
  * headers and body as two segments and Nagle holds the body until the
  * client's delayed ACK (~40 ms), so a 2 ms handler answered in ~45 ms.
  * The JDK reads `sun.net.httpserver.nodelay` once, at the JVM's first
  * HttpServer, so every server must start through [[serve]].
  */
object Http {

  System.setProperty("sun.net.httpserver.nodelay", "true")

  sealed trait Reply
  final case class Body(status: Int, contentType: String,
                        bytes: Array[Byte]) extends Reply
  /** Materialized chunks, each written and flushed on its own (SSE). */
  final case class Chunks(status: Int, contentType: String,
                          chunks: Seq[Array[Byte]]) extends Reply

  def text(status: Int, contentType: String, s: String): Reply =
    Body(status, contentType, s.getBytes(UTF_8))

  def json(status: Int, s: String): Reply = text(status, "application/json", s)

  /** Serve `route` for every request under `context` on 127.0.0.1:`port`
    * (0 picks a free port); returns the started server.
    */
  def serve(port: Int, context: String = "/")(
      route: (String, URI, Headers, String) => Reply): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
    server.createContext(context, (ex: HttpExchange) => {
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      route(ex.getRequestMethod, ex.getRequestURI, ex.getRequestHeaders,
          body) match {
        case Body(status, contentType, bytes) =>
          ex.getResponseHeaders.add("Content-Type", contentType)
          ex.sendResponseHeaders(status, bytes.length.toLong)
          ex.getResponseBody.write(bytes)
        case Chunks(status, contentType, chunks) =>
          ex.getResponseHeaders.add("Content-Type", contentType)
          ex.sendResponseHeaders(status, 0L)
          val out = ex.getResponseBody
          chunks.foreach { c => out.write(c); out.flush() }
      }
      ex.close()
    })
    server.start()
    server
  }
}
