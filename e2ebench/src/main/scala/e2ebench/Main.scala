package e2ebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * main once per run, and checks and reduces what it writes to `--out`.
  *
  * Modes:
  *   - `serve_miss` / `serve_hit`: HttpApi + QueryService under 4 closed-loop
  *     keep-alive clients ([[Serve]]).
  *   - `registry_mix`: repeated cleared passes over registry queries
  *     ([[Registry]]).
  *   - `oracle_sql`: write `SparkEntry.oracleSql` for the listed queries (run
  *     once per build, outside any timed run).
  */
object Main {

  final case class Args(
      mode: String,
      outDir: File,
      sfDir: String,
      seconds: Double,
      trace: Boolean,
      launchedAtNs: Long,
      input: Option[File],
      queries: Seq[String],
      warmup: Int)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      mode = kv("mode"),
      outDir = new File(kv("out")),
      sfDir = kv("sf-dir"),
      seconds = kv.get("seconds").map(_.toDouble).getOrElse(0.0),
      trace = kv.get("trace").contains("1"),
      launchedAtNs = kv.get("launched-ns").map(_.toLong).getOrElse(0L),
      input = kv.get("input").map(new File(_)),
      queries = kv.get("queries").toSeq.flatMap(_.split(',')).filter(_.nonEmpty),
      warmup = kv.get("warmup").map(_.toInt).getOrElse(0))
  }

  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeJson(f: File, value: Any): Unit = json.writeValue(f, value)

  /** Wall clock in epoch nanoseconds, comparable with the launcher's
    * `time.time_ns()` taken just before it started this process.
    */
  def epochNanos(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def session(a: Args): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val local = new File(a.outDir, "spark-local")
    local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("e2ebench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local.getPath)
      .config("spark.sql.warehouse.dir", new File(a.outDir, "warehouse").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Heap in use after full collections, in MiB. Spark's ContextCleaner
    * drops the blocks and broadcasts of objects a collection found
    * unreachable on its own thread, some time after that collection; so
    * collect again, after a pause, until the heap stops shrinking. Two
    * back-to-back collections read either 165 or 220 MB at the end of
    * otherwise alike `registry_mix` runs.
    */
  def heapRetainedMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    def collect(): Long = { System.gc(); mem.getHeapMemoryUsage.getUsed }
    var used = collect()
    var freed = 0L
    var rounds = 0
    do {
      Thread.sleep(300)
      val now = collect()
      freed = used - now
      used = now
      rounds += 1
    } while (freed > (1L << 20) && rounds < 10)
    used / 1048576.0
  }

  /** Cumulative collector and JIT milliseconds; diffs bound a window. */
  def jvmTimes(): (Long, Long) = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L)
    (gc, jit)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.outDir.mkdirs()
    val code =
      try {
        a.mode match {
          case "oracle_sql" =>
            val spark = session(a)
            try {
              val all = graft.SparkEntry.oracleSql
              writeJson(new File(a.outDir, "oracle_sql.json"),
                a.queries.map(q => q -> all.getOrElse(q, null)).toMap)
            } finally spark.stop()
          case "serve_miss" | "serve_hit" => Serve.run(a)
          case "registry_mix" => Registry.run(a)
          case other => throw new IllegalArgumentException(s"unknown mode $other")
        }
        0
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          1
      }
    // The engine's HTTP pool and Spark's helpers may leave non-daemon
    // threads behind; the run is over, so end the process explicitly.
    System.exit(code)
  }
}
