package graft.http

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** The serving plumbing every graft HTTP surface shares — the edge
  * ([[IngestServer]]), the sync controller ([[SyncController]]), the
  * reprocessing admin ([[ReprocessingAdmin]]) and the registry's live
  * fixtures: server construction, response writing, the reference's CORS
  * middleware, and route registration behind one 500 guard. Each server
  * keeps its own error-body text, query parsing and executor. */
private[graft] object Http {

  private val Json = "application/json"
  val NotFound = """{"error":"not found"}"""

  private val NoDelay = "sun.net.httpserver.nodelay"

  /** A server bound to 127.0.0.1 (`port` 0 = ephemeral), not yet started.
    * With Nagle on, the JDK server's separate header and body writes wait
    * out the client's delayed ACK: ~45 ms per request on a keep-alive
    * connection. Go's net/http (the reference) sets TCP no-delay on every
    * connection, so this turns it on too unless the property is already
    * set. The JDK reads the property once per JVM, when its first server
    * is built — a server built elsewhere before this one fixes the value. */
  def server(port: Int): HttpServer = {
    if (System.getProperty(NoDelay) == null) System.setProperty(NoDelay, "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  def respond(ex: HttpExchange, code: Int, body: String,
              contentType: String = Json): Unit =
    respondBytes(ex, code, body.getBytes(UTF_8), contentType)

  /** Write a whole response and close the exchange. An empty body is sent
    * as no body: the JDK reads a length of 0 as "chunked, length unknown". */
  def respondBytes(ex: HttpExchange, code: Int, body: Array[Byte],
                   contentType: String = Json): Unit = {
    ex.getResponseHeaders.set("Content-Type", contentType)
    ex.sendResponseHeaders(code, if (body.isEmpty) -1L else body.length.toLong)
    ex.getResponseBody.write(body)
    ex.close()
  }

  /** The reference's CORS middleware (router.go:51-72, ingest/router.go:
    * 208-229): echo a present Origin back (credentialed responses cannot
    * use `*`) and answer an OPTIONS preflight directly. True when the
    * exchange was fully handled (preflight). */
  def cors(ex: HttpExchange): Boolean = {
    val origin = Option(ex.getRequestHeaders.getFirst("Origin")).filter(_.nonEmpty)
    def allow(o: String): Unit = {
      val h = ex.getResponseHeaders
      h.set("Access-Control-Allow-Origin", o)
      h.set("Access-Control-Allow-Methods", "GET,POST,HEAD,OPTIONS")
      h.set("Access-Control-Allow-Headers",
        "x-enable-debug, x-write-key, authorization, content-type, x-ip-policy, cache-control, x-jitsu-custom")
      h.set("Access-Control-Allow-Credentials", "true")
      h.set("Access-Control-Max-Age", "86400")
    }
    if (ex.getRequestMethod == "OPTIONS") {
      allow(origin.getOrElse("*"))
      ex.sendResponseHeaders(200, -1L)
      ex.close()
      true
    } else {
      origin.foreach(allow)
      false
    }
  }

  /** Register `handle` under the context `path` behind the 500 guard: an
    * escaping exception answers 500 with `errorBody(e)`. When the headers
    * already went out that write throws too, and the JDK drops the
    * connection, so a half-sent response never reads as complete. JDK
    * contexts are longest-prefix STRING matches ("/health" also takes
    * "/healthx"), so `exact` answers 404 to any longer path; `withCors`
    * runs [[cors]] first and skips `handle` for a preflight. */
  def route(server: HttpServer, path: String, errorBody: Exception => String,
            exact: Boolean = false, withCors: Boolean = false)
           (handle: HttpExchange => Unit): Unit = {
    server.createContext(path, (ex: HttpExchange) =>
      try {
        if (exact && ex.getRequestURI.getPath != path) respond(ex, 404, NotFound)
        else if (!(withCors && cors(ex))) handle(ex)
      } catch { case e: Exception => respond(ex, 500, errorBody(e)) })
    ()
  }
}
