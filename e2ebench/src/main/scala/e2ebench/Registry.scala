package e2ebench

import java.io.{File, PrintWriter}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.Row

import graft.SparkEntry

/** Repeated passes over a fixed list of `SparkEntry` registry queries. Each
  * pass first drops the shared state (`SparkEntry.clearSharedState()` and
  * `spark.catalog.clearCache()`), so every pass pays each query's
  * DataFrame-build work. A query is timed in two parts: the
  * `queries(name)(spark, dir)` call (build, including any Spark jobs the
  * builder fires eagerly) and `collect()` of the returned DataFrame (exec).
  */
object Registry {

  private val tsFormat = DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")

  /** A collected cell as plain JSON: the checker normalizes the oracle's
    * values to the same forms.
    */
  def jsonable(v: Any): Any = v match {
    case null => null
    case f: Float => f.toDouble
    case d: java.math.BigDecimal => d.toPlainString
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case t: java.sql.Timestamp => t.toLocalDateTime.format(tsFormat)
    case t: java.time.Instant => t.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(tsFormat)
    case t: java.time.LocalDateTime => t.format(tsFormat)
    case r: Row => r.toSeq.map(jsonable)
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => Seq(jsonable(k), jsonable(x)) }
    case s: scala.collection.Seq[_] => s.map(jsonable)
    case b: Array[Byte] => b.map(_ & 0xff).toSeq
    case other => other
  }

  /** One query of one pass; times in nanoseconds, window edges in epoch ms. */
  final case class Op(pass: Int, query: String, buildNs: Long, execNs: Long,
      startMs: Long, builtMs: Long, endMs: Long, error: String)

  def run(a: Main.Args): Unit = {
    val spark = Main.session(a)
    val tracer = new Tracer(a.trace)
    val probe = if (a.trace) Some(new SparkProbe(spark)) else None
    val registry = SparkEntry.queries
    val unknown = a.queries.filterNot(registry.contains)
    require(unknown.isEmpty, s"unknown registry queries: ${unknown.mkString(",")}")

    val ops = mutable.ArrayBuffer.empty[Op]
    val passes = mutable.ArrayBuffer.empty[(Int, Long, Long)] // pass, start, end (ns)
    val results = new PrintWriter(new File(a.outDir, "results.jsonl"), "UTF-8")

    def pass(p: Int, timed: Boolean): Unit = {
      SparkEntry.clearSharedState()
      spark.catalog.clearCache()
      val collected = mutable.ArrayBuffer.empty[(String, Array[String], Array[Row])]
      val t0 = System.nanoTime()
      a.queries.foreach { q =>
        val id = s"$p:$q"
        val startMs = System.currentTimeMillis()
        val b0 = System.nanoTime()
        var b1 = b0
        var builtMs = startMs
        try {
          val df = tracer.withId(id)(tracer.time("registry.build")(registry(q)(spark, a.sfDir)))
          b1 = System.nanoTime()
          builtMs = System.currentTimeMillis()
          val rows = tracer.withId(id)(tracer.time("registry.exec")(df.collect()))
          val e1 = System.nanoTime()
          if (timed) ops += Op(p, q, b1 - b0, e1 - b1, startMs, builtMs, System.currentTimeMillis(), null)
          collected += ((q, df.schema.fieldNames, rows))
        } catch {
          case e: Exception =>
            if (timed) ops += Op(p, q, b1 - b0, System.nanoTime() - b1, startMs, builtMs,
              System.currentTimeMillis(), String.valueOf(e.getMessage).take(500))
        }
      }
      val t1 = System.nanoTime()
      if (timed) {
        passes += ((p, t0, t1))
        collected.foreach { case (q, cols, rows) =>
          results.println(Main.json.writeValueAsString(Map(
            "pass" -> p, "query" -> q, "columns" -> cols.toSeq,
            "rows" -> rows.toSeq.map(r => r.toSeq.map(jsonable)))))
        }
      }
    }

    try {
      (1 to a.warmup).foreach(p => pass(-p, timed = false))
      val (gc0, jit0) = Main.jvmTimes()
      val startNs = System.nanoTime()
      val firstTimedEpochNs = Main.epochNanos()
      val deadline = startNs + (a.seconds * 1e9).toLong
      var p = 0
      do { pass(p, timed = true); p += 1 } while (System.nanoTime() < deadline)
      val (gc1, jit1) = Main.jvmTimes()
      results.close()
      probe.foreach(_.drain())
      val heapMb = Main.heapRetainedMb()

      Main.writeJson(new File(a.outDir, "run.json"), Map(
        "setup_s" -> (firstTimedEpochNs - a.launchedAtNs) / 1e9,
        "window_start_ns" -> startNs,
        "window_end_ns" -> passes.last._3,
        "heap_retained_mb" -> heapMb,
        "gc_ms" -> (gc1 - gc0),
        "jit_ms" -> (jit1 - jit0),
        "passes" -> passes.map { case (i, s, e) => Map("pass" -> i, "start_ns" -> s, "end_ns" -> e) },
        "ops" -> ops.map(o => Map(
          "pass" -> o.pass, "query" -> o.query, "build_ns" -> o.buildNs,
          "exec_ns" -> o.execNs, "start_ms" -> o.startMs, "built_ms" -> o.builtMs,
          "end_ms" -> o.endMs, "error" -> o.error))))
      if (tracer.enabled) {
        Main.writeJson(new File(a.outDir, "spans.json"), tracer.all)
        probe.foreach(pr => Main.writeJson(new File(a.outDir, "spark.json"), pr.dump()))
      }
    } finally {
      results.close()
      spark.stop()
    }
  }
}
