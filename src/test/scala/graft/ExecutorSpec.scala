package graft

import graft.exec.{Executor, Sanitizer}
import graft.ir.{FilterExpr, MongoJson, QuerySpec, UnsupportedQueryException}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, udf}

/** SURVEY.md §2.3-§2.5 execution semantics: limit clamp, projection,
  * count policy, envelope. */
class ExecutorSpec extends SparkSpec {

  test("limit clamp [1, 1000] (No_Sql.py:397)") {
    assert(Executor.clampLimit(0) == 1)
    assert(Executor.clampLimit(-5) == 1)
    assert(Executor.clampLimit(50) == 50)
    assert(Executor.clampLimit(5000) == 1000)
  }

  test("plan: filter + projection + limit compose") {
    val df = Executor.plan(employees, QuerySpec(
      FilterExpr.Gt("salary", 40000.0), Seq("emp_id", "name"), Some(3)))
    assert(df.columns.toSeq == Seq("emp_id", "name"))
    assert(df.count() == 3)
  }

  test("plan: unknown projection field errors") {
    intercept[UnsupportedQueryException] {
      Executor.plan(employees, QuerySpec(FilterExpr.True, Seq("nope"), None))
    }
  }

  test("exec: envelope has rows, unlimited count, echoed query") {
    val r = Executor.exec(employees,
      QuerySpec(FilterExpr.Gte("salary", 50000.0)), limit = 2)
    assert(r.results.length == 2)          // limited rows
    assert(r.totalMatching == 5)           // UNlimited count
    assert(!r.countDegraded)
    assert(r.mongoQueryJson.contains("$gte"))
  }

  /** Four partitions of ten rows with every type the sanitizer rewrites
    * (timestamp, date, decimal, binary), nulls, and nested values it
    * leaves to the JSON encoder (array, map, struct with a timestamp). */
  private lazy val typed: DataFrame = spark.range(0, 40, 1, 4).selectExpr(
    "id",
    "timestamp_seconds(id * 86399 + 7) AS ts",
    "date_add(DATE'2020-02-27', CAST(id AS INT)) AS d",
    "CAST(id * 1.25 AS DECIMAL(10, 2)) AS dec",
    "CAST(concat('b', id) AS BINARY) AS bin",
    "IF(id % 5 = 0, NULL, concat('n', id)) AS s",
    "IF(id % 7 = 0, NULL, id / 3.0D) AS x",
    "array(id, IF(id % 2 = 0, NULL, id + 1)) AS arr",
    "map('k', id, 'j', -id) AS m",
    "named_struct('a', id, 't', timestamp_seconds(id), 'q', CAST(id AS DECIMAL(5, 1))) AS st")

  test("exec: one scan gives toJSON's first k rows and the plan's count") {
    assert(typed.rdd.getNumPartitions == 4)
    val specs = Seq(
      QuerySpec(FilterExpr.True),
      QuerySpec(FilterExpr.Gt("id", BigInt(7))),
      QuerySpec(FilterExpr.In("id", Seq(3, 17, 38).map(BigInt(_))), Seq("ts", "m", "st")),
      QuerySpec(FilterExpr.And(Seq(FilterExpr.Gte("id", BigInt(5)), FilterExpr.Lt("id", BigInt(33)))),
        Seq("id", "bin", "dec", "d", "arr", "s", "x")),
      QuerySpec(FilterExpr.Eq("id", BigInt(-1))))
    for (spec <- specs; k <- Seq(1, 3, 1000)) {
      val r = Executor.exec(typed, spec, limit = k)
      val unlimited = Executor.plan(typed, spec.copy(limit = None))
      val expected = Sanitizer.sanitize(unlimited).toJSON.collect().take(k).toSeq
      assert(r.results == expected, s"$spec, k = $k")
      assert(r.totalMatching == unlimited.count() && !r.countDegraded,
        s"$spec, k = $k")
    }
  }

  test("exec: a slow filtered count degrades to the rows it returned") {
    // every row matches: counting 100 rows per task takes ~4 s, the first
    // three per task ~0.1 s, so only the rows-only scan fits the budget
    val slow = udf { (x: Long) => Thread.sleep(20); x }
    val df = spark.range(0, 400, 1, 4).select(slow(col("id")).as("salary"))
    val r = Executor.exec(df, QuerySpec(FilterExpr.Gte("salary", BigInt(0))),
      limit = 3, countTimeoutMs = 300L)
    assert(r.countDegraded)
    assert(r.results.length == 3 && r.totalMatching == 3)
  }

  test("exec: a filtered count past its deadline is one job, one task per partition") {
    val slow = udf { (x: Long) => Thread.sleep(20); x }
    val df = spark.range(0, 400, 1, 4).select(slow(col("id")).as("salary"))
    var r: Executor.QueryResult = null
    val jobs = jobsDuring {
      r = Executor.exec(df, QuerySpec(FilterExpr.Gte("salary", BigInt(0))),
        limit = 3, countTimeoutMs = 300L)
    }
    assert(r.countDegraded && r.results.length == 3 && r.totalMatching == 3)
    assert(jobs.map(_.stageTasks) == Seq(Seq(4)), jobs)
  }

  test("exec: a row that throws past the first k degrades to k rows") {
    // each partition's rows from its fifth on throw; the first three of
    // every partition are fine, so a rows-only scan can still answer
    val bad = udf { (x: Long) =>
      if (x % 10 >= 4) throw new IllegalStateException(s"row $x"); x }
    val df = spark.range(0, 40, 1, 4).select(bad(col("id")).as("salary"))
    val r = Executor.exec(df, QuerySpec(FilterExpr.Gte("salary", BigInt(0))),
      limit = 3)
    assert(r.countDegraded)
    assert(r.results == Seq(0, 1, 2).map(i => s"""{"salary":$i}"""))
    assert(r.totalMatching == 3)
  }

  test("exec: an empty-filter count past its budget degrades; a fast one is exact") {
    val slow = spark.range(500000000L).selectExpr("id as x").filter("x % 3 = 1")
    val r = Executor.exec(slow.toDF, QuerySpec(), limit = 7, countTimeoutMs = 30L)
    assert(r.countDegraded && r.results.length == 7 && r.totalMatching == 7)
    val fast = Executor.exec(spark.range(10).toDF, QuerySpec(), limit = 3,
      countTimeoutMs = 30000L)
    assert(!fast.countDegraded && fast.results.length == 3 &&
      fast.totalMatching == 10)
  }

  test("runCancellable: timeout -> None + cancelled flag; success -> Some") {
    val sc = spark.sparkContext
    val flagSeen = new java.util.concurrent.atomic.AtomicBoolean(false)
    val out = Executor.runCancellable(sc, "graft-test", 50L) { cancelled =>
      Thread.sleep(300)
      flagSeen.set(cancelled.get())
      "late"
    }
    assert(out.isEmpty)
    // the body observes the expired flag once the deadline has passed
    assert(flagSeen.get())
    val ok = Executor.runCancellable(sc, "graft-test", 5000L)(_ => 42)
    assert(ok.contains(42))
    assert(!sc.getJobTags().exists(_.startsWith("graft-test")))
  }

  test("runCancellable: the outer deadline reaps an exec whose count budget is 600 s") {
    val sc = spark.sparkContext
    val slow = spark.range(20000000000L).selectExpr("id as x")
      .filter("x % 3 = 1").toDF
    for (spec <- Seq(QuerySpec(), QuerySpec(FilterExpr.Gte("x", BigInt(0))))) {
      val t0 = System.nanoTime()
      val out = Executor.runCancellable(sc, "graft-test", 300L) { _ =>
        Executor.exec(slow, spec, countTimeoutMs = 600000L)
      }
      val sec = (System.nanoTime() - t0) / 1e9
      assert(out.isEmpty, spec)
      assert(sec < 5.0, s"$spec took $sec s")
      assert(!sc.getJobTags().exists(_.startsWith("graft-")))
    }
  }

  test("exec parses full find-spec JSON through the same path as the driver") {
    val spec = MongoJson.parse(
      """{"filter": {"department": {"$regex": "ENG", "$options": "i"}},
        | "projection": {"name": 1}}""".stripMargin)
    val r = Executor.exec(employees, spec)
    assert(r.results == Seq("""{"name":"Ada"}"""))
  }
}
