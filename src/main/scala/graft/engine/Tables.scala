package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table registry over the driver parquet fixtures (TESTDATA.md) plus the
  * deterministic `employees` bridge view (FIXTURES.md §3) that maps the
  * reference's data model (reference `core/models.py:5-37`) onto `customer`.
  *
  * Scale notes: parquet scans get predicate pushdown + column pruning from
  * Catalyst for free; the `employees` view is a pure per-row projection of
  * `customer` (no shuffle), so everything downstream of it partitions exactly
  * like `customer` does. [[employees]] stays lazy; only the serving path's
  * registered view ([[registerEmployees]]) is held in Spark's in-memory
  * columnar cache, which costs one `customer`-sized scan per registration.
  */
object Tables {

  val fixtureTables: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(dir: String, name: String): String = s"$dir/$name.parquet"

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.plans.GraftFunctions.register(spark) // idempotent; native fns available everywhere tables are
    if (name == "events") loadEvents(spark, dir) else
      spark.read.parquet(path(dir, name))
  }

  /** `events.ts` has shipped as either parquet TIMESTAMP(NANOS) — which
    * Spark refuses outright ([PARQUET_TYPE_ILLEGAL]) — or plain
    * TIMESTAMP(MICROS) with isAdjustedToUTC=false, depending on fixture
    * generation. Handle both from the footer schema: nanos read as a long
    * via the legacy flag and truncate to microseconds (exactly what
    * DuckDB does casting TIMESTAMP_NS to its native micros), micros read
    * natively as TIMESTAMP_NTZ and re-type to the session-TZ timestamp
    * (UTC session ⇒ identical micros value). Downstream always sees a
    * microsecond TimestampType `ts` either way.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path(dir, "events"))
    val converted =
      if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)")) // integer div: `/` would go through double and lose precision at 1e18 ns
      else raw.withColumn("ts", col("ts").cast("timestamp"))
    converted.select(col("event_id"), col("ts"), col("user_id"),
      col("event_type"), col("value"), col("props"))
  }

  /** Register every fixture table as a temp view named after itself. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    fixtureTables.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  /** Spark-SQL flavor of the FIXTURES.md §3 bridge view. Kept semantically
    * identical to [[employeesOracleCte]] (the DuckDB flavor): every column is
    * a pure function of `customer` columns, so both engines agree bit-for-bit.
    * Mirrors the reference schema at `core/models.py:13-19`.
    *
    * `salary` is DOUBLE (not the reference's DECIMAL(10,2)): both engines
    * compute `30000 + c_acctbal * 10` with identical IEEE-754 ops on the
    * same parquet doubles, so every comparator sees bit-identical float64 —
    * DECIMAL survives parquet↔pandas↔DuckDB with engine-specific
    * representations and is a hash-compare hazard (SURVEY.md §7.4).
    */
  val employeesSelectSparkSql: String =
    """SELECT
      |  c_custkey                                     AS id,
      |  c_name                                        AS name,
      |  CASE CAST(c_nationkey % 7 AS INT)
      |    WHEN 0 THEN 'IT'        WHEN 1 THEN 'HR'
      |    WHEN 2 THEN 'Sales'     WHEN 3 THEN 'Marketing'
      |    WHEN 4 THEN 'Finance'   WHEN 5 THEN 'Engineering'
      |    ELSE        'Operations' END                AS department,
      |  30000 + c_acctbal * 10                        AS salary,
      |  date_add(DATE '2015-01-01', CAST(c_custkey % 3650 AS INT)) AS date_of_join,
      |  concat(lower(replace(c_name, '#', '')), '@example.com')    AS email,
      |  CASE CAST(c_custkey % 3 AS INT)
      |    WHEN 0 THEN 'Software Engineer'
      |    WHEN 1 THEN 'Analyst'
      |    ELSE        'Manager' END                   AS position
      |FROM customer""".stripMargin

  /** DuckDB flavor, inlined as a CTE in every oracle query that touches
    * `employees` (FIXTURES.md §3).
    */
  val employeesOracleCte: String =
    """WITH employees AS (
      |SELECT
      |  c_custkey                                     AS id,
      |  c_name                                        AS name,
      |  CASE CAST(c_nationkey % 7 AS INT)
      |    WHEN 0 THEN 'IT'        WHEN 1 THEN 'HR'
      |    WHEN 2 THEN 'Sales'     WHEN 3 THEN 'Marketing'
      |    WHEN 4 THEN 'Finance'   WHEN 5 THEN 'Engineering'
      |    ELSE        'Operations' END                AS department,
      |  30000 + c_acctbal * 10                        AS salary,
      |  DATE '2015-01-01' + CAST(c_custkey % 3650 AS INT) AS date_of_join,
      |  lower(replace(c_name, '#', '')) || '@example.com' AS email,
      |  CASE CAST(c_custkey % 3 AS INT)
      |    WHEN 0 THEN 'Software Engineer'
      |    WHEN 1 THEN 'Analyst'
      |    ELSE        'Manager' END                   AS position
      |FROM customer
      |)""".stripMargin

  /** Wrap a DuckDB query body with the employees CTE. */
  def withEmployeesCte(body: String): String = s"$employeesOracleCte\n$body"

  def employees(spark: SparkSession, dir: String): DataFrame = {
    load(spark, dir, "customer").createOrReplaceTempView("customer")
    spark.sql(employeesSelectSparkSql)
  }

  /** The fixture dir whose rows each session's cached `employees` view holds. */
  private val employeesDir = new java.util.WeakHashMap[SparkSession, String]()

  /** Register `employees` (and its base table) so `spark.sql` text produced
    * by the NL compiler runs unchanged, and fill Spark's in-memory columnar
    * cache with it: every served query then scans the cached columns instead
    * of re-reading `customer` and recomputing the bridge columns.
    *
    * A repeat call for the same dir keeps the cache as it is, unless the
    * view is no longer cached (dropped, replaced or uncached since). A call
    * for another dir uncaches the old view before registering the new one.
    */
  def registerEmployees(spark: SparkSession, dir: String): Unit =
    employeesDir.synchronized {
      val exists = spark.catalog.tableExists("employees")
      if (!(exists && spark.catalog.isCached("employees") &&
          employeesDir.get(spark) == dir)) {
        if (exists) spark.catalog.uncacheTable("employees")
        employees(spark, dir).createOrReplaceTempView("employees")
        spark.catalog.cacheTable("employees")
        spark.table("employees").count() // fill the cache once, here
        employeesDir.put(spark, dir)
      }
    }
}
