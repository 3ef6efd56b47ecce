package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import graft.engine.{NlCompiler, QueryService, Serializer, Tables}

/** End-to-end pipeline parity (reference lifecycle §3.1): compile → guard →
  * reuse by SQL → execute → serialize → log → cache, including error
  * envelopes, the cached:true marker on repeat queries, stored answers
  * that never outlive the views they were computed over, and rows that keep
  * the selected column order.
  */
class QueryServiceSpec extends SparkSuite {

  private lazy val service: QueryService = {
    Tables.registerEmployees(spark, sfDir)
    new QueryService(spark)
  }

  /** Run `body` and count the Spark jobs it started. */
  private def jobsFiredBy[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = "query-service-spec"
    val jobs = new AtomicInteger()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some("marker") => marker.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      val r = body
      // listener events arrive in order: once the marker job is seen, every
      // job the body started has been counted
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(30, TimeUnit.SECONDS))
      (r, jobs.get)
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("count query end-to-end: success envelope with one stringified count row") {
    val r = service.process("How many employees are there?")
    assert(r.success)
    assert(r.sqlQuery === Some("SELECT COUNT(*) as total_employees FROM employees;"))
    assert(r.rowCount === 1)
    assert(r.columns === Seq("total_employees"))
    // non-salary numerics are stringified (reference :339-340)
    assert(r.data.head("total_employees") === "150")
    assert(!r.cached)
  }

  test("repeat query marks cached:true and skips recompute") {
    service.cache.clear()
    val r1 = service.process("Show me all employees in the company")
    val r2 = service.process("Show me all employees in the company")
    assert(!r1.cached && r2.cached)
    assert(r1.data === r2.data)
  }

  test("salary values come back rounded numeric (reference :335-336)") {
    val r = service.process("Employees with salary above 50000")
    assert(r.success)
    assert(r.data.nonEmpty)
    assert(r.data.head("salary").isInstanceOf[Double])
  }

  test("empty query → error envelope, not an exception") {
    val r = service.process("   ")
    assert(!r.success && r.error === Some("Query cannot be empty"))
  }

  test("failed execution is logged with success=false (ghost hire_date column)") {
    service.logger.clear()
    val r = service.process("Employees who joined in 2023")
    assert(!r.success) // hire_date doesn't exist — reference fails here too
    val logs = service.logger.entries
    assert(logs.nonEmpty && !logs.head.success)
    assert(logs.head.generatedSql.contains("hire_date"))
  }

  test("every processed query appends exactly one log row") {
    service.logger.clear()
    service.cache.clear()
    service.process("How many employees are there?")
    service.process("Find employees in the Sales department")
    assert(service.logger.entries.size === 2)
    val df = service.logger.toDf(spark)
    assert(df.count() === 2)
    assert(df.columns.contains("executionTime"))
  }

  test("response serializes to valid-shaped JSON") {
    val r = service.process("How many employees are there?")
    val js = r.toJson
    assert(js.startsWith("{\"success\":true"))
    assert(js.contains("\"row_count\":1"))
  }

  test("a new question whose SQL was already answered runs no Spark job") {
    Tables.registerEmployees(spark, sfDir)
    val fresh = new QueryService(spark)
    val (q1, q2) = ("Show me all employees in the company", "list employees")
    assert(NlCompiler.compileSql(q1) === NlCompiler.compileSql(q2))
    val (r1, jobs1) = jobsFiredBy(fresh.process(q1))
    assert(r1.success && jobs1 > 0)
    val (r2, jobs2) = jobsFiredBy(fresh.process(q2))
    assert(jobs2 === 0)
    assert(r2.success && !r2.cached)
    assert(r2.originalQuery === q2 && r2.sqlQuery === r1.sqlQuery)
    assert(r2.data === r1.data && r2.columns === r1.columns)
    assert(r2.rowCount === r1.rowCount && r2.rowCount > 0)
    assert(fresh.logger.entries.size === 2)
    assert(fresh.logger.entries.head.originalQuery === q2)
    assert(fresh.cache.get(q2).contains(r2))
    assert(fresh.process(q2).cached)
  }

  test("a failed execution is never stored: each repeat runs analysis again") {
    Tables.registerEmployees(spark, sfDir)
    val fresh = new QueryService(spark)
    def analyzerRuns = RuleExecutor.getCurrentMetrics().numRuns
    for (_ <- 1 to 2) {
      val before = analyzerRuns
      val r = fresh.process("Employees who joined in 2023")
      assert(!r.success && r.error.exists(_.contains("hire_date")))
      assert(analyzerRuns > before)
    }
    assert(fresh.logger.entries.size === 2 && fresh.cache.size === 0)
  }

  test("stored answers are dropped when the temp views are replaced") {
    val larger = new java.io.File(sfDir).getParent + "/sf0.01" // 1,500 customers
    val fresh = new QueryService(spark)
    val question = "How many employees are there?"
    val countSql = Some("SELECT COUNT(*) as total_employees FROM employees;")
    def total() = {
      val r = fresh.process(question)
      assert(r.success && !r.cached && r.sqlQuery === countSql)
      r.data.head("total_employees")
    }
    try {
      Tables.registerEmployees(spark, sfDir)
      assert(total() === "150")
      assert(fresh.process(question).cached) // same views: a cache hit
      Tables.registerEmployees(spark, larger)
      assert(total() === "1500")
      Tables.registerEmployees(spark, sfDir)
      assert(total() === "150")
      // replacing any temp view, not only employees, drops them too
      spark.range(1).createOrReplaceTempView("query_service_spec_view")
      val (r, jobs) = jobsFiredBy(fresh.process(question))
      assert(!r.cached && r.data.head("total_employees") === "150" && jobs > 0)
    } finally {
      spark.catalog.dropTempView("query_service_spec_view")
      Tables.registerEmployees(spark, sfDir)
    }
  }

  test("Serializer.toData rows keep the column order of a 7-column SELECT *") {
    Tables.registerEmployees(spark, sfDir)
    val (data, columns) =
      Serializer.toData(spark.sql("SELECT * FROM employees ORDER BY id LIMIT 3"))
    assert(columns ===
      Seq("id", "name", "department", "salary", "date_of_join", "email", "position"))
    assert(data.size === 3)
    data.foreach(row => assert(row.keys.toSeq === columns))
    val json = Serializer.toJsonValue(data.head)
    val keyAt = columns.map(c => json.indexOf(Serializer.jsonEscape(c) + ":"))
    assert(keyAt.forall(_ >= 0) && keyAt === keyAt.sorted, json)
  }

  test("entry() flagship returns rows on sf0.001 (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
