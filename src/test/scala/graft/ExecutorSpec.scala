package graft

import graft.exec.Executor
import graft.ir.{FilterExpr, MongoJson, QuerySpec, UnsupportedQueryException}

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

  test("count degradation: timeout -> fallback value + degraded flag") {
    val slow = spark.range(500000000L).selectExpr("id as x").filter("x % 3 = 1")
    val (n, degraded) = Executor.countWithTimeout(slow.toDF, 30L, 7L)
    assert(degraded && n == 7L)
    val fast = spark.range(10).toDF
    val (n2, d2) = Executor.countWithTimeout(fast, 30000L, -1L)
    assert(!d2 && n2 == 10L)
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

  test("runCancellable: the outer deadline reaps a nested count's jobs") {
    val sc = spark.sparkContext
    val slow = spark.range(20000000000L).selectExpr("id as x")
      .filter("x % 3 = 1").toDF
    val t0 = System.nanoTime()
    val out = Executor.runCancellable(sc, "graft-test", 300L) { _ =>
      Executor.countWithTimeout(slow, 600000L, -1L)
    }
    val sec = (System.nanoTime() - t0) / 1e9
    assert(out.isEmpty)
    assert(sec < 5.0, s"took $sec s")
    assert(!sc.getJobTags().exists(_.startsWith("graft-")))
  }

  test("exec parses full find-spec JSON through the same path as the driver") {
    val spec = MongoJson.parse(
      """{"filter": {"department": {"$regex": "ENG", "$options": "i"}},
        | "projection": {"name": 1}}""".stripMargin)
    val r = Executor.exec(employees, spec)
    assert(r.results == Seq("""{"name":"Ada"}"""))
  }
}
