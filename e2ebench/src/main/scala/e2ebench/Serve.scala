package e2ebench

import java.io.{BufferedInputStream, File, PrintWriter}
import java.net.Socket
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}
import java.util.concurrent.{BrokenBarrierException, ConcurrentHashMap, CyclicBarrier, ExecutorService, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.io.Source

import org.apache.spark.sql.SparkSession

import graft.engine._

/** Cache that counts and (when tracing) times every call, then delegates. */
final class CountingCache(tracer: Tracer) extends QueryCache[QueryResponse]() {
  val hits = new AtomicLong
  val misses = new AtomicLong
  val puts = new AtomicLong
  val maxSize = new AtomicInteger

  override def get(query: String): Option[QueryResponse] = {
    val r = tracer.time("cache.get")(super.get(query))
    (if (r.isDefined) hits else misses).incrementAndGet()
    r
  }

  override def put(query: String, value: QueryResponse): Unit = {
    tracer.time("cache.put")(super.put(query, value))
    puts.incrementAndGet()
    maxSize.accumulateAndGet(size, math.max)
  }
}

final class TimedLogger(tracer: Tracer) extends QueryLogger() {
  override def log(
      originalQuery: String,
      generatedSql: String,
      success: Boolean,
      errorMessage: String,
      executionTime: Double,
      resultCount: Int,
      cached: Boolean): Unit =
    tracer.time("log.append")(super.log(
      originalQuery, generatedSql, success, errorMessage, executionTime, resultCount, cached))
}

/** Times one compiler and keeps the SQL it produced, so the guard can be
  * replayed on exactly the generated strings after the timed window.
  */
final class TimedCompiler(inner: NlToSql, tracer: Tracer,
    generated: ConcurrentHashMap[String, String]) extends NlToSql {
  override def compile(userQuery: String): Option[String] = {
    val r = tracer.time("compile")(inner.compile(userQuery))
    if (tracer.enabled) r.foreach(generated.putIfAbsent(tracer.currentId, _))
    r
  }
}

/** Response whose `toJson` (called by HttpApi on the handler thread) is timed. */
final class TimedResponse(r: QueryResponse, tracer: Tracer, id: String)
    extends QueryResponse(r.success, r.originalQuery, r.sqlQuery, r.data,
      r.columns, r.rowCount, r.error, r.cached) {
  override def toJson: String = {
    val t0 = System.nanoTime()
    try super.toJson finally tracer.record(id, "serialize.to_json", t0, System.nanoTime())
  }
}

/** QueryService that names each request `<question index>.<occurrence>` —
  * the same id the client computes — and, when tracing, records the
  * `service.process` span and tags the Spark jobs the request fires.
  */
final class TracedService(
    spark: SparkSession,
    compilers: Seq[NlToSql],
    queryLogger: QueryLogger,
    queryCache: QueryCache[QueryResponse],
    tracer: Tracer,
    questionIndex: Map[String, Int])
    extends QueryService(spark, compilers, queryLogger, queryCache) {

  private val occurrences = new ConcurrentHashMap[Int, AtomicInteger]()

  override def process(userQuery: String): QueryResponse = {
    if (!tracer.enabled) return super.process(userQuery)
    val q = questionIndex.getOrElse(userQuery, -1)
    val k = occurrences.computeIfAbsent(q, _ => new AtomicInteger).getAndIncrement()
    val id = s"$q.$k"
    val sc = spark.sparkContext
    sc.setLocalProperty(SparkProbe.IdProperty, id)
    try {
      val r = tracer.withId(id)(tracer.time("service.process")(super.process(userQuery)))
      new TimedResponse(r, tracer, id)
    } finally sc.setLocalProperty(SparkProbe.IdProperty, null)
  }
}

/** Minimal HTTP/1.1 keep-alive client: one connection, one request at a
  * time, each request written with a single `write`.
  */
final class HttpConn(port: Int) {
  private val sock = new Socket("127.0.0.1", port)
  private val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
  private val out = sock.getOutputStream

  private def readLine(): String = {
    val sb = new java.lang.StringBuilder
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed")
      if (c != '\r') sb.append(c.toChar)
      c = in.read()
    }
    sb.toString
  }

  /** POST `body`; returns (status, response body). */
  def post(path: String, body: String): (Int, String) = {
    val b = body.getBytes(UTF_8)
    val head = (s"POST $path HTTP/1.1\r\nHost: 127.0.0.1\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n").getBytes(US_ASCII)
    out.write(head ++ b)
    out.flush()
    val status = readLine().split(' ')(1).toInt
    var length = -1
    var line = readLine()
    while (line.nonEmpty) {
      val i = line.indexOf(':')
      if (i > 0 && line.substring(0, i).trim.equalsIgnoreCase("content-length"))
        length = line.substring(i + 1).trim.toInt
      line = readLine()
    }
    if (length < 0) throw new IllegalStateException("response without Content-Length")
    (status, new String(in.readNBytes(length), UTF_8))
  }

  def close(): Unit = sock.close()
}

object Serve {
  /** Requests a client sends between two looks at the deadline. */
  val RoundSize = 4

  /** QueryCache's default capacity. */
  val CacheEntries = 1000

  /** One completed request, as the client saw it. */
  final case class Req(client: Int, phase: String, q: Int, k: Int, t0: Long, t1: Long,
      status: Int, success: Boolean, cached: Boolean)

  private def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def run(a: Main.Args): Unit = {
    val hit = a.mode == "serve_hit"
    val src = Source.fromFile(a.input.get, "UTF-8")
    val questions = try src.getLines().toVector finally src.close()
    val spark = Main.session(a)
    val tracer = new Tracer(a.trace)
    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    graft.engine.Tables.registerEmployees(spark, a.sfDir)

    val cache = new CountingCache(tracer)
    val logger = new TimedLogger(tracer)
    val generated = new ConcurrentHashMap[String, String]()
    val compilers = Seq(LlmCompiler, NlCompiler).map(new TimedCompiler(_, tracer, generated))
    val service = new TracedService(spark, compilers, logger, cache, tracer,
      questions.zipWithIndex.toMap)
    val server = HttpApi.start(service, port = 0)
    val port = server.getAddress.getPort

    val clients = math.min(4, Runtime.getRuntime.availableProcessors())
    val nextQuestion = new AtomicInteger(0) // serve_miss: every question once
    val warmLeft = new AtomicInteger(a.warmup)
    val barrier = new CyclicBarrier(clients + 1)
    val records = Array.fill(clients)(mutable.ArrayBuffer.empty[Req])
    val bodies = Array.fill(clients)(mutable.HashMap.empty[Int, mutable.Set[String]])
    @volatile var deadline = Long.MaxValue
    val failure = new AtomicReference[Throwable]()

    def client(c: Int): Runnable = () => {
      val conn = new HttpConn(port)
      val sent = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
      val owned = questions.indices.filter(_ % clients == c) // serve_hit only
      var turn = 0
      def send(phase: String): Unit = {
        val q =
          if (hit) { val q = owned(turn % owned.size); turn += 1; q }
          else {
            val q = nextQuestion.getAndIncrement()
            if (q >= questions.size) throw new IllegalStateException("question pool exhausted")
            q
          }
        val k = sent(q)
        sent(q) = k + 1
        val t0 = System.nanoTime()
        val (status, body) = conn.post("/api/query/", s"""{"query": ${jsonString(questions(q))}}""")
        val t1 = System.nanoTime()
        records(c) += Req(c, phase, q, k, t0, t1, status,
          body.startsWith("{\"success\":true"), body.endsWith("\"cached\":true}"))
        bodies(c).getOrElseUpdate(q, mutable.HashSet.empty) += body
      }
      try {
        if (hit) owned.foreach(_ => send("prime"))
        while (warmLeft.getAndDecrement() > 0) send("warm")
        barrier.await() // warm-up done
        barrier.await() // window opens
        do (1 to RoundSize).foreach(_ => send("timed"))
        while (System.nanoTime() < deadline)
      } catch {
        case e: Throwable =>
          failure.compareAndSet(null, e)
          barrier.reset() // wake everyone still waiting
      } finally conn.close()
    }

    val threads = (0 until clients).map(c => new Thread(client(c), s"e2ebench-client-$c"))
    try {
      threads.foreach(_.start())
      def await(): Unit =
        try barrier.await()
        catch { case _: BrokenBarrierException => threads.foreach(_.join()); throw failure.get }
      await() // warm-up (and priming) done
      if (!hit) {
        // A long-running server's cache is full: top it up to capacity with
        // keys no question asks for, so the window pays the cull (a third of
        // the entries, about every 333 fills) the way such a server does.
        val filler = QueryResponse(success = true, "", Some("SELECT 1;"), Nil, Nil, 0)
        var i = 0
        while (cache.size < CacheEntries) { cache.put(s"filler #$i", filler); i += 1 }
      }
      val logBefore = logger.entries.size
      val cacheBefore = cache.size
      val putsBefore = cache.puts.get
      val hitsBefore = cache.hits.get
      val missesBefore = cache.misses.get
      val (gc0, jit0) = Main.jvmTimes()
      val startNs = System.nanoTime()
      val firstTimedEpochNs = Main.epochNanos()
      deadline = startNs + (a.seconds * 1e9).toLong
      await()
      threads.foreach(_.join())
      if (failure.get != null) throw failure.get
      val endNs = records.flatten.filter(_.phase == "timed").map(_.t1).max
      val (gc1, jit1) = Main.jvmTimes()
      val logAfter = logger.entries.size

      // Guard replay: SqlGuard.clean on every SQL generated in the window,
      // timed outside the request path.
      if (tracer.enabled) generated.forEach { (id, sql) =>
        tracer.withId(id)(tracer.time("guard")(SqlGuard.clean(sql)))
      }
      probe.foreach(_.drain())
      val heapMb = Main.heapRetainedMb()

      val out = new PrintWriter(new File(a.outDir, "requests.tsv"), "UTF-8")
      try records.flatten.foreach { r =>
        out.println(Seq(r.client, r.phase, r.q, r.k, r.t0, r.t1, r.status,
          if (r.success) 1 else 0, if (r.cached) 1 else 0).mkString("\t"))
      } finally out.close()
      val merged = mutable.HashMap.empty[Int, mutable.Set[String]]
      bodies.foreach(_.foreach { case (q, bs) => merged.getOrElseUpdate(q, mutable.HashSet.empty) ++= bs })
      Main.writeJson(new File(a.outDir, "bodies.json"),
        merged.map { case (q, bs) => q.toString -> bs.toSeq }.toMap)
      Main.writeJson(new File(a.outDir, "run.json"), Map(
        "setup_s" -> (firstTimedEpochNs - a.launchedAtNs) / 1e9,
        "window_start_ns" -> startNs,
        "window_end_ns" -> endNs,
        "window_start_epoch_ms" -> firstTimedEpochNs / 1000000L,
        "heap_retained_mb" -> heapMb,
        "log_entries_before" -> logBefore,
        "log_entries_after" -> logAfter,
        "cache_entries_before" -> cacheBefore,
        "cache_entries_end" -> cache.size,
        "cache_puts_window" -> (cache.puts.get - putsBefore),
        "cache_max_size" -> cache.maxSize.get,
        "cache_hits_before" -> hitsBefore,
        "cache_misses_before" -> missesBefore,
        "cache_hits" -> cache.hits.get,
        "cache_misses" -> cache.misses.get,
        "gc_ms" -> (gc1 - gc0),
        "jit_ms" -> (jit1 - jit0)))
      if (tracer.enabled) {
        Main.writeJson(new File(a.outDir, "spans.json"), tracer.all)
        probe.foreach(p => Main.writeJson(new File(a.outDir, "spark.json"), p.dump()))
      }
    } finally {
      server.stop(0)
      // HttpApi.start installs a fixed pool that server.stop leaves running.
      server.getExecutor match {
        case ex: ExecutorService =>
          ex.shutdownNow()
          ex.awaitTermination(10, TimeUnit.SECONDS)
        case _ =>
      }
      spark.stop()
    }
  }
}
