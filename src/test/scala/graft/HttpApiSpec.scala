package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import graft.engine.{HttpApi, NlToSql, QueryService, Tables}

/** The reference's HTTP surface (`core/urls.py` + `core/views.py`), served
  * for real over the JDK HttpServer and driven with a real HTTP client:
  * route parity, status-code parity (200 envelopes for processed queries,
  * 400 for empty/invalid, 405 for wrong methods), and end-to-end NL→SQL→
  * Spark execution through POST /api/query/. Also a bounded request body
  * and a worker pool that does not keep the JVM alive.
  */
class HttpApiSpec extends SparkSuite {

  private lazy val client = HttpClient.newHttpClient()
  // a handler that dies without answering fails the test instead of hanging it
  private val timeout = java.time.Duration.ofSeconds(60)

  private def post(base: String, path: String, body: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path)).timeout(timeout)
        .header("Content-Type", "application/json")
        .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())

  private def get(base: String, path: String): HttpResponse[String] =
    client.send(
      HttpRequest.newBuilder(URI.create(base + path)).timeout(timeout).GET().build(),
      HttpResponse.BodyHandlers.ofString())

  test("the four reference routes serve end-to-end over real HTTP") {
    Tables.registerEmployees(spark, sfDir)
    val server = HttpApi.start(new QueryService(spark), port = 0)
    val base = s"http://localhost:${server.getAddress.getPort}"
    try {
      // POST /api/query/ — NL → rule compiler → guard → spark.sql → JSON
      val ok = post(base, "/api/query/",
        """{"query": "How many employees work in the IT department?"}""")
      assert(ok.statusCode === 200)
      assert(ok.body.contains("\"success\":true"))
      assert(ok.body.contains("COUNT(*)"))
      assert(ok.body.contains("\"row_count\":1"))
      assert(ok.body.contains("\"cached\":false"))

      // second hit serves from the md5-keyed cache, like the reference
      val hit = post(base, "/api/query/",
        """{"query": "How many employees work in the IT department?"}""")
      assert(hit.statusCode === 200 && hit.body.contains("\"cached\":true"))

      // reference status-code parity
      assert(post(base, "/api/query/", """{"query": "   "}""").statusCode === 400)
      assert(post(base, "/api/query/", "not json at all").statusCode === 400)
      assert(get(base, "/api/query/").statusCode === 405)

      val ex = get(base, "/api/examples/")
      assert(ex.statusCode === 200)
      assert(ex.body.contains("Show me all employees in the company"))
      assert("\"(?:[^\"\\\\]|\\\\.)*\"".r.findAllIn(ex.body).size >= 15)

      val health = get(base, "/api/health/")
      assert(health.statusCode === 200 && health.body.contains("\"status\":\"healthy\""))

      val info = get(base, "/api/info/")
      assert(info.statusCode === 200)
      assert(info.body.contains("POST /api/query/"))
      assert(info.body.contains("supported_queries"))
    } finally server.stop(0)
  }

  test("a body over maxBodyBytes is refused with 413 and the error envelope") {
    val server = HttpApi.start(new QueryService(spark), port = 0)
    val base = s"http://localhost:${server.getAddress.getPort}"
    try {
      val over = post(base, "/api/query/",
        s"""{"query": "${"x" * HttpApi.maxBodyBytes}"}""")
      assert(over.statusCode === 413)
      assert(over.body.startsWith("{\"success\":false,\"error\":"))

      // a question that fills the whole bound is read and answered
      Tables.registerEmployees(spark, sfDir)
      val head = """{"query": "How many employees work in the IT department? """
      val atLimit = post(base, "/api/query/",
        head + "x" * (HttpApi.maxBodyBytes - head.length - 2) + "\"}")
      assert(atLimit.statusCode === 200 && atLimit.body.contains("\"success\":true"))
    } finally server.stop(0)
  }

  test("an Error thrown while answering gets a 500 envelope, not a hung client") {
    val failing = new NlToSql {
      override def compile(userQuery: String): Option[String] =
        throw new StackOverflowError("compiler blew its stack")
    }
    val server = HttpApi.start(new QueryService(spark, Seq(failing)), port = 0)
    val base = s"http://localhost:${server.getAddress.getPort}"
    try {
      val r = post(base, "/api/query/", """{"query": "How many employees are there?"}""")
      assert(r.statusCode === 500)
      assert(r.body ===
        "{\"success\":false,\"error\":\"Unexpected error: compiler blew its stack\"}")
      // the server keeps answering
      assert(get(base, "/api/health/").statusCode === 200)
    } finally server.stop(0)
  }

  test("stopping the server leaves no non-daemon pool thread behind") {
    val server = HttpApi.start(new QueryService(spark), port = 0)
    val workers = new ConcurrentLinkedQueue[Thread]()
    val arrived = new CountDownLatch(4)
    try {
      assert(get(s"http://localhost:${server.getAddress.getPort}", "/api/health/")
        .statusCode === 200)
      // four tasks that wait for each other occupy all four pool threads
      (1 to 4).foreach(_ => server.getExecutor.execute { () =>
        workers.add(Thread.currentThread())
        arrived.countDown()
        arrived.await(10, TimeUnit.SECONDS)
      })
      assert(arrived.await(10, TimeUnit.SECONDS))
    } finally server.stop(0)
    assert(workers.size === 4)
    val left = workers.asScala.filter(t => t.isAlive && !t.isDaemon)
    assert(left.isEmpty, s"non-daemon pool threads: ${left.map(_.getName).mkString(", ")}")
  }

  test("extractQuery distinguishes invalid JSON from empty queries") {
    assert(HttpApi.extractQuery("plain text").isEmpty)
    assert(HttpApi.extractQuery("""{"other": 1}""") === Some(""))
    assert(HttpApi.extractQuery("""{"query": "hi"}""") === Some("hi"))
    assert(HttpApi.extractQuery("""{"query": "a \"quoted\" word"}""") ===
      Some("""a "quoted" word"""))
    assert(HttpApi.extractQuery("""{"query": "tab\tend"}""") === Some("tab\tend"))
    assert(HttpApi.extractQuery("""{"query": "ok \u0041"}""") === Some("ok A"))
    // a truncated \uXX escape must not throw
    assert(HttpApi.extractQuery("{\"query\": \"bad \\u12\"}").isDefined)
    // long strings, with or without escapes, do not overflow the stack
    assert(HttpApi.extractQuery(s"""{"query": "${"x" * 60000}"}""").map(_.length) ===
      Some(60000))
    assert(HttpApi.extractQuery(s"""{"query": "${"a\\\"" * 20000}"}""").map(_.length) ===
      Some(40000))
  }
}
