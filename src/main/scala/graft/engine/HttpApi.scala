package graft.engine

import java.net.InetSocketAddress
import java.util.concurrent.Executors
import java.util.concurrent.atomic.AtomicInteger
import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** HTTP serving layer — the reference's URL surface (`core/urls.py`,
  * `core/views.py:14-121`) bound to the Spark-native pipeline with the
  * JDK's built-in [[com.sun.net.httpserver.HttpServer]]: zero added
  * dependencies, one small thread pool, route-for-route parity:
  *
  *   - `POST /api/query/`    → [[QueryService.process]] (400 on empty
  *     query or invalid JSON, 500 on anything thrown while answering —
  *     `views.py:14-63`; 413 on a body over [[maxBodyBytes]])
  *   - `GET  /api/examples/` → the 15 examples (`views.py:65-89`)
  *   - `GET  /api/health/`   → health envelope (`views.py:91-99`)
  *   - `GET  /api/info/`     → API info + endpoint map (`views.py:101-121`)
  *
  * Caching semantics live in [[QueryService]] (md5 key, 300 s TTL), so a
  * repeated POST serves `"cached": true` exactly like the reference's
  * view-layer cache.
  */
object HttpApi {

  /** Minimal JSON body reader for `{"query": "..."}` — the only request
    * shape the reference accepts. Returns None when the body is not a
    * JSON object (the reference's JSONDecodeError branch); Some("") when
    * it is JSON but carries no usable query (the empty-query branch).
    */
  private[graft] def extractQuery(body: String): Option[String] = {
    val trimmed = Option(body).getOrElse("").trim
    if (!trimmed.startsWith("{")) return None
    // possessive runs keep the regex engine from recursing once per
    // character, which overflows the stack on a question of a few thousand
    // characters, well inside the body bound
    val m = """"query"\s*:\s*"([^"\\]*+(?:\\.[^"\\]*+)*+)"""".r
    m.findFirstMatchIn(trimmed) match {
      case None => Some("")
      case Some(g) =>
        val raw = g.group(1)
        val sb = new StringBuilder
        var i = 0
        while (i < raw.length) {
          val c = raw.charAt(i)
          if (c == '\\' && i + 1 < raw.length) {
            raw.charAt(i + 1) match {
              case 'n' => sb += '\n'; i += 2
              case 't' => sb += '\t'; i += 2
              case 'r' => sb += '\r'; i += 2
              case 'u' if i + 6 <= raw.length =>
                sb += Integer.parseInt(raw.substring(i + 2, i + 6), 16).toChar
                i += 6
              case other => sb += other; i += 2
            }
          } else { sb += c; i += 1 }
        }
        Some(sb.toString)
    }
  }

  /** Largest `/api/query/` body read; a longer one is refused with 413. */
  private[graft] val maxBodyBytes: Int = 64 * 1024

  private def jsonOf(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) =>
      s"${Serializer.jsonEscape(k)}:${Serializer.toJsonValue(v)}"
    }.mkString("{", ",", "}")

  /** Start the server; `port = 0` binds an ephemeral port (tests). */
  def start(service: QueryService, port: Int = 8000): HttpServer = {
    val server = HttpServer.create(new InetSocketAddress(port), 0)

    def respond(ex: HttpExchange, code: Int, json: String): Unit = {
      val bytes = json.getBytes("UTF-8")
      ex.getResponseHeaders.add("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
    def error(ex: HttpExchange, code: Int, message: String): Unit =
      respond(ex, code, jsonOf(Seq("success" -> false, "error" -> message)))

    /** Serve `path` for one method. Whatever the handler throws, `Error`s
      * included, is answered with 500 (views.py:57-63): an exchange left
      * unanswered keeps its client waiting until the client's own timeout.
      */
    def route(path: String, method: String)(handle: HttpExchange => Unit): Unit =
      server.createContext(path, (ex: HttpExchange) =>
        if (ex.getRequestMethod != method) error(ex, 405, "method not allowed")
        else try handle(ex) catch {
          case e: Throwable =>
            error(ex, 500, s"Unexpected error: ${Option(e.getMessage).getOrElse(e.toString)}")
        })

    route("/api/query/", "POST") { ex =>
      val raw = ex.getRequestBody.readNBytes(maxBodyBytes + 1)
      if (raw.length > maxBodyBytes)
        error(ex, 413, s"Request body exceeds $maxBodyBytes bytes")
      else extractQuery(new String(raw, "UTF-8")) match {
        case None => // views.py:51-56
          error(ex, 400, "Invalid JSON in request body")
        case Some(q) if q.trim.isEmpty => // views.py:20-24
          error(ex, 400, "Query cannot be empty")
        case Some(q) => // success AND compile-failure envelopes are 200,
          // exactly like JsonResponse(result) in views.py:49
          respond(ex, 200, service.process(q).toJson)
      }
    }

    route("/api/examples/", "GET") { ex =>
      respond(ex, 200, jsonOf(Seq(
        "success" -> true, "examples" -> ApiSurface.examples.map(e => e: Any))))
    }

    route("/api/health/", "GET")(respond(_, 200, jsonOf(ApiSurface.health.toSeq)))

    route("/api/info/", "GET") { ex =>
      respond(ex, 200, jsonOf(Seq(
        "name" -> "DataFabric Employee Query API",
        "version" -> "1.0.0",
        "description" ->
          "Convert natural language queries to SQL and execute against employee database",
        "endpoints" -> Map(
          "POST /api/query/" -> "Process natural language query",
          "GET /api/examples/" -> "Get example queries",
          "GET /api/health/" -> "Health check",
          "GET /api/info/" -> "API information"),
        "supported_queries" -> ApiSurface.supportedQueries.map(s => s: Any))))
    }

    // daemon threads: server.stop does not end the pool, and a non-daemon
    // pool would keep the JVM alive after main returns
    val workers = new AtomicInteger()
    server.setExecutor(Executors.newFixedThreadPool(4, (r: Runnable) => {
      val t = new Thread(r, s"graft-http-${workers.incrementAndGet()}")
      t.setDaemon(true)
      t
    }))
    server.start()
    server
  }
}
