package e2ebench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded around the benchmark's calls into each layer. Spans of one
  * request (or one registry query) share `id`. They stay in memory and are
  * written out when the run ends. With tracing off nothing is recorded and
  * every wrapper reduces to a plain delegation.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val current = new ThreadLocal[String]

  /** The id of the request the calling thread is serving, if any. */
  def currentId: String = Option(current.get).getOrElse("")
  def withId[T](id: String)(body: => T): T = {
    val prev = current.get
    current.set(id)
    try body finally current.set(prev)
  }

  def time[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = currentId
      val t0 = System.nanoTime()
      try body finally record(id, name, t0, System.nanoTime())
    }

  def record(id: String, name: String, t0: Long, t1: Long): Unit =
    if (enabled) spans.add(Map("id" -> id, "name" -> name, "t0" -> t0, "t1" -> t1))

  def all: Seq[Map[String, Any]] = spans.asScala.toSeq
}

/** Spark-side work counters from the public listener APIs: one record per
  * job (with the `e2ebench.id` local property of the thread that submitted
  * it), per completed stage, and per finished query execution (with its
  * `QueryPlanningTracker` phase times). Installed only in traced runs.
  */
final class SparkProbe(spark: SparkSession) {
  import SparkProbe.IdProperty

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val markerSeen = new AtomicBoolean(false)
  @volatile private var markerExecId = -1L

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val id = Option(e.properties).map(_.getProperty(IdProperty)).orNull
      jobs.add(Map(
        "job" -> e.jobId, "time_ms" -> e.time, "stages" -> e.stageIds,
        "id" -> id))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = Option(s.taskMetrics)
      stages.add(Map(
        "stage" -> s.stageId, "tasks" -> s.numTasks,
        "input_bytes" -> m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        "shuffle_write_bytes" -> m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        "shuffle_read_bytes" -> m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
        "spill_bytes" -> m.map(t => t.memoryBytesSpilled + t.diskBytesSpilled).getOrElse(0L)))
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def add(qe: QueryExecution, durationNs: Long): Unit = {
      if (qe.id == markerExecId) markerSeen.set(true)
      else queries.add(Map(
        "duration_ns" -> durationNs,
        "seen_ms" -> System.currentTimeMillis(),
        "phases" -> qe.tracker.phases.map { case (k, v) => k -> v.durationMs }))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      add(qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      add(qe, 0L)
  }

  spark.sparkContext.addSparkListener(jobListener)
  spark.listenerManager.register(qeListener)

  /** Wait until every event posted so far has reached the listeners: run a
    * marker query and poll until its execution is reported (the listener
    * bus delivers events in order).
    */
  def drain(timeoutMs: Long = 30000L): Unit = {
    val df = spark.range(1).toDF()
    markerExecId = df.queryExecution.id
    df.collect()
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!markerSeen.get && System.currentTimeMillis() < deadline) Thread.sleep(5)
  }

  def dump(): Map[String, Any] = Map(
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "queries" -> queries.asScala.toSeq)
}

object SparkProbe {
  /** Local property naming the request or registry query a job belongs to. */
  val IdProperty = "e2ebench.id"
}
