package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.engine.{TableInspector, Tables}

/** Fixture goldens (SURVEY.md §5 item 4) + bridge-view determinism +
  * introspector behavior.
  */
class TablesSpec extends SparkSuite {
  import spark.implicits._

  test("fixture row counts at sf0.001 match TESTDATA.md") {
    val expected = Map(
      "region" -> 5L, "nation" -> 25L, "customer" -> 150L, "supplier" -> 10L,
      "part" -> 200L, "orders" -> 1500L, "lineitem" -> 6000L,
      "events" -> 1000L, "documents" -> 500L, "embeddings" -> 500L)
    for ((t, n) <- expected)
      assert(Tables.load(spark, sfDir, t).count() === n, s"table $t")
  }

  test("employees view: schema mirrors the reference model") {
    val emp = Tables.employees(spark, sfDir)
    assert(emp.columns.toSeq ===
      Seq("id", "name", "department", "salary", "date_of_join", "email", "position"))
    assert(emp.schema("salary").dataType.typeName === "double")
    assert(emp.schema("date_of_join").dataType.typeName === "date")
    assert(emp.count() === 150)
  }

  test("employees view: departments reproduce the compiler dictionary") {
    val depts = Tables.employees(spark, sfDir)
      .select("department").distinct().as[String].collect().toSet
    assert(depts.subsetOf(Set("IT", "HR", "Sales", "Marketing", "Finance",
      "Engineering", "Operations")))
  }

  test("employees view is deterministic (two registrations agree)") {
    val a = Tables.employees(spark, sfDir).orderBy("id").collect()
    val b = Tables.employees(spark, sfDir).orderBy("id").collect()
    assert(a.toSeq === b.toSeq)
  }

  test("registerEmployees serves employees from Spark's in-memory cache") {
    // the expected rows come from parquet, before anything is cached
    if (spark.catalog.tableExists("employees")) spark.catalog.uncacheTable("employees")
    val expected = Tables.employees(spark, sfDir).orderBy("id").collect().toSeq
    Tables.registerEmployees(spark, sfDir)
    assert(spark.catalog.isCached("employees"))
    assert(spark.sql("SELECT COUNT(*) FROM employees")
      .queryExecution.optimizedPlan.toString.contains("InMemoryRelation"))
    val served = spark.table("employees").orderBy("id").collect().toSeq
    assert(served.length === 150)
    assert(served === expected)
  }

  test("registerEmployees again for the same dir fires no Spark job") {
    Tables.registerEmployees(spark, sfDir)
    val sc = spark.sparkContext
    val group = "register-employees-again"
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
      sc.setJobGroup(group, "second registration")
      Tables.registerEmployees(spark, sfDir)
      // listener events arrive in order: once the marker job is seen, every
      // job the registration started has been counted
      sc.setJobGroup("marker", "marker")
      sc.parallelize(Seq(1), 1).count()
      assert(marker.await(30, TimeUnit.SECONDS))
      assert(jobs.get === 0)
      assert(spark.catalog.isCached("employees"))
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  test("registerEmployees for another dir serves that dir's rows, none stale") {
    val larger = new java.io.File(sfDir).getParent + "/sf0.01" // 1,500 customers
    try {
      Tables.registerEmployees(spark, sfDir)
      assert(Tables.employees(spark, sfDir).storageLevel !== StorageLevel.NONE)
      val expected = Tables.employees(spark, larger).orderBy("id").collect().toSeq
      Tables.registerEmployees(spark, larger)
      assert(spark.catalog.isCached("employees"))
      assert(spark.sql("SELECT COUNT(*) FROM employees").head().getLong(0) === 1500)
      assert(spark.table("employees").orderBy("id").collect().toSeq === expected)
      // the sf0.001 rows are no longer held in the cache
      assert(Tables.employees(spark, sfDir).storageLevel === StorageLevel.NONE)
    } finally Tables.registerEmployees(spark, sfDir)
  }

  test("events.ts is read as microsecond timestamps under UTC") {
    val e = Tables.load(spark, sfDir, "events")
    assert(e.schema("ts").dataType.typeName === "timestamp")
    val bounds = e.agg(min("ts").cast("string"), max("ts").cast("string"))
      .as[(String, String)].head()
    assert(bounds._1.startsWith("2024-01-0"))
    assert(bounds._2.startsWith("2024-01-3") || bounds._2.startsWith("2024-01-2"))
  }

  test("schemaInfo text includes columns, row count, sample departments") {
    val info = TableInspector.schemaInfo(Tables.employees(spark, sfDir))
    assert(info.contains("- salary (DOUBLE)"))
    assert(info.contains("Table contains 150 employee records."))
    assert(info.contains("Sample departments:"))
  }

  test("inspect reports structure, count, departments, salary stats") {
    val r = TableInspector.inspect(Tables.employees(spark, sfDir))
    assert(r.rowCount === 150)
    assert(r.sampleDepartments.nonEmpty)
    assert(r.salaryStats.isDefined)
    val (mn, mx, avg) = r.salaryStats.get
    assert(mn.doubleValue() < mx.doubleValue())
    assert(avg > mn.doubleValue() && avg < mx.doubleValue())
  }

  test("suggestField maps Spark types to model fields (inspect_table.py:168-194)") {
    import org.apache.spark.sql.types._
    assert(TableInspector.suggestField(IntegerType) === "IntegerField()")
    assert(TableInspector.suggestField(DecimalType(10, 2)) ===
      "DecimalField(max_digits=10, decimal_places=2)")
    assert(TableInspector.suggestField(DateType) === "DateField()")
    assert(TableInspector.suggestField(StringType) === "CharField(max_length=255)")
  }

  test("driver contract: query names unique, every oracle key has a query") {
    // queries() itself rejects duplicate names (a dup would silently
    // drop a query from the correctness gate); this exercises that path
    // and pins oracle keys to query keys
    val names = SparkEntry.queries.keySet
    assert(SparkEntry.oracleSql.keySet.subsetOf(names))
    assert(names.nonEmpty && names.forall(_.matches("[a-z0-9_]+")))
  }
}
