package graft.engine

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.catalog.TemporaryViewRelation

/** Response envelope — shape of the reference's JSON response
  * (`core/ai_query_generator.py:410-417`, `core/views.py:32,48`).
  */
case class QueryResponse(
    success: Boolean,
    originalQuery: String,
    sqlQuery: Option[String],
    data: Seq[Map[String, Any]],
    columns: Seq[String],
    rowCount: Int,
    error: Option[String] = None,
    cached: Boolean = false) {

  def toJson: String = {
    val fields = Seq(
      "success" -> success,
      "original_query" -> originalQuery,
      "sql_query" -> sqlQuery.orNull,
      "data" -> data.map(m => m: Any),
      "columns" -> columns.map(c => c: Any),
      "row_count" -> rowCount) ++
      error.map("error" -> _).toSeq :+ ("cached" -> cached)
    fields.map { case (k, v) =>
      s"${Serializer.jsonEscape(k)}:${Serializer.toJsonValue(v)}"
    }.mkString("{", ",", "}")
  }
}

/** End-to-end NL-query orchestrator — the Spark-native equivalent of the
  * reference pipeline (`process_natural_language_query`,
  * `core/ai_query_generator.py:379-445` + `core/views.py:14-63`):
  * cache probe → compile (LLM stub → rule fallback) → guard → reuse by SQL
  * → `spark.sql` → serialize → log → cache fill. Catalyst replaces
  * PostgreSQL as the relational executor (SURVEY.md §3.1); everything else
  * is a straight port.
  *
  * Reuse by SQL: the rule compiler is many-to-one (many questions compile
  * to the same SQL), so besides the question-keyed `cache` the service keeps
  * the rows and columns of every successful execution, keyed by the guarded
  * SQL, with the same 300 s TTL and 1,000-entry cull. A new question whose
  * SQL is stored runs no Spark job: it gets a fresh response with
  * `cached = false`, is logged, and fills `cache` like a computed answer.
  * Failed executions are never stored, so they re-run every time.
  *
  * Neither `cache` nor the result store outlives the data its answers came
  * from: both are scoped to the session's temp views, compared by object
  * identity. Any `createOrReplaceTempView` (a `Tables.registerEmployees`
  * for another dir included) replaces a view's relation, so the next
  * request first empties both. Within one scope the served `employees` view
  * is an in-memory snapshot, so only SQL that reads `CURRENT_DATE` can
  * change its answer; such an answer is served for at most the TTL. SQL
  * that reads anything but temp views (a file path, say) is bounded the
  * same way.
  */
class QueryService(
    spark: SparkSession,
    compilers: Seq[NlToSql] = Seq(LlmCompiler, NlCompiler),
    val logger: QueryLogger = new QueryLogger(),
    val cache: QueryCache[QueryResponse] = new QueryCache[QueryResponse]()) {

  /** Serialized rows and their columns, as [[Serializer.toData]] returns them. */
  private type Result = (Seq[Map[String, Any]], Seq[String])

  // The temp views (name -> the catalog's relation) that `cache` and
  // `results` were filled over. Guarded by `this`.
  private var views = tempViews()
  private var results = new QueryCache[Result]()

  private def tempViews(): Map[String, TemporaryViewRelation] = {
    val catalog = spark.sessionState.catalog
    catalog.getTempViewNames()
      .flatMap(n => catalog.getRawTempView(n).map(n -> _)).toMap
  }

  /** The result store of the session's current temp views. If a view was
    * replaced, created or dropped since the last request, `cache` and the
    * store are emptied first. Views match when they have the same names,
    * each bound to the very same relation (`eq`, never a hash): a replaced
    * view gets a new relation even when its definition is equal.
    */
  private def currentStore(): QueryCache[Result] = {
    val now = tempViews()
    synchronized {
      val same = now.size == views.size &&
        now.forall { case (n, v) => views.get(n).exists(_ eq v) }
      if (!same) {
        views = now
        results = new QueryCache[Result]()
        cache.clear()
      }
      results
    }
  }

  def process(userQuery: String): QueryResponse = {
    val trimmed = Option(userQuery).getOrElse("").trim
    if (trimmed.isEmpty)
      return QueryResponse(success = false, trimmed, None, Nil, Nil, 0,
        error = Some("Query cannot be empty"))

    val store = currentStore()
    cache.get(trimmed) match {
      case Some(hit) => return hit.copy(cached = true)
      case None =>
    }

    val start = System.nanoTime()
    val sqlOpt = compilers.view.flatMap(_.compile(trimmed)).headOption
      .flatMap(SqlGuard.clean)

    sqlOpt match {
      case None =>
        val resp = QueryResponse(success = false, trimmed, None, Nil, Nil, 0,
          error = Some("Failed to generate SQL query from all available methods"))
        logger.log(trimmed, "", success = false, resp.error.get, elapsed(start), 0)
        resp
      case Some(sql) =>
        val resp =
          try {
            val (data, columns) = store.get(sql).getOrElse {
              val computed = Serializer.toData(spark.sql(sql.stripSuffix(";")))
              store.put(sql, computed)
              computed
            }
            QueryResponse(success = true, trimmed, Some(sql), data, columns, data.size)
          } catch {
            case e: Exception =>
              QueryResponse(success = false, trimmed, Some(sql), Nil, Nil, 0,
                error = Some(e.getMessage))
          }
        logger.log(trimmed, sql, resp.success, resp.error.getOrElse(""),
          elapsed(start), resp.rowCount)
        // an answer from a scope that ended meanwhile is not kept
        if (resp.success) synchronized { if (store eq results) cache.put(trimmed, resp) }
        resp
    }
  }

  private def elapsed(startNanos: Long): Double =
    (System.nanoTime() - startNanos) / 1e9
}

/** Static API metadata — the reference's examples/health/info endpoints
  * (`core/views.py:65-121`). The 15 examples double as the NL-compiler
  * acceptance corpus (SURVEY.md §5).
  */
object ApiSurface {
  val examples: Seq[String] = Seq(
    "Show me all employees in the company",
    "Give me the list of all employees who joined last year",
    "How many employees work in the IT department?",
    "Show me employees with salary greater than 50000",
    "List all employees who joined this year",
    "Find employees in the Sales department",
    "Show me the highest paid employees",
    "Count of employees in each department",
    "Employees who joined in 2023",
    "Show me all employees with their salaries sorted by name",
    "Find all software engineers",
    "Show me employees earning between 40000 and 80000",
    "List employees who have been with company for more than 5 years",
    "Show me the average salary by department",
    "Find employees with Gmail addresses")

  val health: Map[String, String] = Map(
    "status" -> "healthy",
    "service" -> "DataFabric AI Employee Query Backend",
    "version" -> "1.0.0")

  val supportedQueries: Seq[String] = Seq(
    "Employee listings and filtering",
    "Department-based queries",
    "Salary-based filtering",
    "Date-based filtering (joining dates)",
    "Aggregation queries (count, average)",
    "Sorting and limiting results")
}
