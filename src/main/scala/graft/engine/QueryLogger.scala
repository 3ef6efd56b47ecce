package graft.engine

import java.sql.Timestamp
import scala.collection.mutable.ListBuffer
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One analytics row per processed query — the reference's `query_logs`
  * table (`core/models.py:58-72`, populated by `_log_query`,
  * `core/ai_query_generator.py:364-377`).
  */
case class QueryLog(
    originalQuery: String,
    generatedSql: String,
    success: Boolean,
    errorMessage: String,
    executionTime: Double, // seconds, like the reference's FloatField
    resultCount: Int,
    cached: Boolean,
    timestamp: Timestamp)

/** Append-only query log. In-memory buffer + on-demand DataFrame view
  * (newest-first, matching `QueryLog.Meta.ordering`, `models.py:71`). At
  * cluster scale this is a driver-side telemetry append — tiny rows, no
  * distributed concerns.
  */
class QueryLogger {

  private val buffer = ListBuffer.empty[QueryLog]

  def log(
      originalQuery: String,
      generatedSql: String,
      success: Boolean,
      errorMessage: String,
      executionTime: Double,
      resultCount: Int,
      cached: Boolean = false): Unit = synchronized {
    buffer += QueryLog(
      originalQuery, Option(generatedSql).getOrElse(""), success,
      Option(errorMessage).getOrElse(""), executionTime, resultCount, cached,
      new Timestamp(System.currentTimeMillis()))
  }

  def entries: Seq[QueryLog] = synchronized { buffer.toSeq.reverse }

  def toDf(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.createDataset(entries).toDF()
  }

  def clear(): Unit = synchronized { buffer.clear() }
}
