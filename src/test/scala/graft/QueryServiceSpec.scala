package graft

import graft.api.QueryService
import graft.api.QueryService._
import graft.sources.Catalog
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** SURVEY.md §2.9/§3.1: request validation, 70/30 timeout budgeting shape,
  * typed error envelope, health/test probes, catalog resolution. */
class QueryServiceSpec extends SparkSpec {

  private lazy val catalog: Catalog = {
    val c = new Catalog(spark, "/nonexistent-root")
    c.register("testdb", "testcoll")(employees)
    c
  }
  private lazy val svc = new QueryService(spark, catalog)

  /** A parquet collection `db1.emps` (employees) under a fresh root. */
  private def parquetRoot(): String = {
    val dir = Files.createTempDirectory("graft-pq").toString
    employees.write.parquet(s"$dir/db1/emps.parquet")
    dir
  }

  private def queryTag(tags: Seq[String]): Option[String] =
    tags.find(_.startsWith("graft-query-"))

  test("full lifecycle: NL in, envelope out, per-phase timings") {
    val r = svc.query(QueryRequest("earning more than 60000")).toOption.get
    assert(r.totalMatching == 3 && r.resultCount == 3)
    assert(r.mongoQuery == """{"filter":{"salary":{"$gt":60000}},"projection":{}}""")
    assert(r.executionTime >= r.dbExecutionTime)
    assert(r.timeoutUsed == 30 && !r.countDegraded)
  }

  test("limit honored and clamped through the service") {
    val r = svc.query(QueryRequest("hello world", limit = 2)).toOption.get
    assert(r.resultCount == 2 && r.totalMatching == 5)
  }

  test("queryJson runs the repair cascade as its generation phase") {
    val r = svc.queryJson(QueryRequest(
      "```json\n{'filter': {'department': {'$regex': 'ENG', '$options': 'i'}}}\n```"))
      .toOption.get
    assert(r.totalMatching == 1)
  }

  test("validation errors: 422 HTTP_ERROR, no work done") {
    assert(svc.query(QueryRequest("")).swap.toOption.get.statusCode == 422)
    assert(svc.query(QueryRequest("x", limit = 0)).swap.toOption.get.statusCode == 422)
    assert(svc.query(QueryRequest("x", limit = 1001)).swap.toOption.get.statusCode == 422)
    assert(svc.query(QueryRequest("x", timeoutSec = 4)).swap.toOption.get.statusCode == 422)
    assert(svc.query(QueryRequest("x", timeoutSec = 61)).swap.toOption.get.statusCode == 422)
  }

  test("off-surface find-spec -> 400 HTTP_ERROR with the loud reason") {
    val e = svc.queryJson(QueryRequest("""{"filter": {"$or": [{"a": 1}]}}"""))
      .swap.toOption.get
    assert(e.statusCode == 400 && e.errorType == "HTTP_ERROR")
    assert(e.error.contains("$or"))
  }

  test("unknown collection -> INTERNAL_ERROR envelope, not an exception") {
    val e = svc.query(QueryRequest("hello", collection = "nope"))
      .swap.toOption.get
    assert(e.statusCode == 500 && e.errorType == "INTERNAL_ERROR")
  }

  test("test(): the reference's fixed generation-only smoke input") {
    val (json, sec) = svc.test()
    assert(json == """{"filter":{},"projection":{}}""") // "Find all employees"
    assert(sec >= 0.0)
  }

  test("health: engine + storage probes") {
    val h = svc.health()
    assert(h.ok && h.engineOk && h.storageOk)
    assert(!svc.health(collection = "missing").storageOk)
  }

  test("catalog: flat-layout fallback resolves driver testdata") {
    val c = new Catalog(spark, "/root/testdata/sf0.001")
    assert(c.resolve("testdb", "customer").count() == 150)
    intercept[NoSuchElementException] { c.resolve("testdb", "absent") }
  }

  test("concurrent requests all complete (no pool starvation timeouts)") {
    val s = new QueryService(spark, catalog)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.global
    val results = Await.result(
      Future.sequence((1 to 8).toList.map(_ =>
        Future(s.query(QueryRequest("earning more than 60000"))))),
      2.minutes)
    assert(results.forall(_.isRight), results.find(_.isLeft).toString)
    assert(s.historyStats().nQueries == 8)
  }

  test("a request runs on the caller's thread, resolve included") {
    val seen = new java.util.concurrent.atomic.AtomicReference[Thread]()
    val c = new Catalog(spark, "/nonexistent-root")
    c.register("testdb", "probe") {
      seen.set(Thread.currentThread())
      employees
    }
    val r = new QueryService(spark, c)
      .query(QueryRequest("earning more than 60000", collection = "probe"))
    assert(r.isRight, r)
    assert(seen.get() eq Thread.currentThread())
  }

  test("DB-phase timeout: 408 within budget + 1 s, its jobs cancelled") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    import org.apache.spark.sql.functions.{col, udf}
    // no row passes `salary > 5`, so the one scan reads every partition
    // (its count budget is checked between matching rows, and none comes):
    // 80 x 10 rows x 50 ms, ~10 s on 4 cores. The DB deadline cancels it,
    // and it is the request's only job. A cancelled task stops at its
    // partition's end, at most 0.5 s later
    val slow = udf { (x: Long) => Thread.sleep(50); x * 0 }
    val c = new Catalog(spark, "/nonexistent-root")
    c.register("testdb", "slow")(
      spark.range(0, 800, 1, 80).select(slow(col("id")).as("salary")))
    val running = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
              .exists(_.split(",").exists(_.startsWith("graft-query-")))) {
          started.incrementAndGet()
          running.add(e.jobId): Unit
        }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        running.remove(e.jobId): Unit
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val t0 = System.nanoTime()
      val r = new QueryService(spark, c).query(
        QueryRequest("salary above 5", collection = "slow", timeoutSec = 5))
      val sec = (System.nanoTime() - t0) / 1e9
      val e = r.swap.toOption.get
      assert(e.errorType == "TIMEOUT_ERROR" && e.statusCode == 408, e)
      // generation takes ~0 s, so the DB budget is 5 - 1 = 4 s
      assert(sec < 4.0 + 1.0, s"took $sec s")
      Thread.sleep(1000)
      assert(running.isEmpty, s"graft-query jobs still running: $running")
      assert(started.get == 1, s"${started.get} graft-query jobs started")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("a filtered request on an unchanged parquet collection is one job") {
    val s = new QueryService(spark, new Catalog(spark, parquetRoot()))
    val req = QueryRequest("earning more than 60000", db = "db1",
      collection = "emps")
    assert(s.query(req).isRight) // warm-up: infers and caches the schema
    var r: Either[QueryError, QuerySuccess] = null
    val jobs = jobsDuring { r = s.query(req) }
    assert(r.toOption.exists(ok => ok.totalMatching == 3 && !ok.countDegraded), r)
    assert(jobs.size == 1, jobs)
    assert(queryTag(jobs.head.tags).nonEmpty, jobs)
  }

  test("an empty-filter request is two jobs with no shuffle") {
    val s = new QueryService(spark, new Catalog(spark, parquetRoot()))
    val req = QueryRequest("Find all employees", db = "db1", collection = "emps")
    assert(s.query(req).isRight) // warm-up: infers and caches the schema
    var r: Either[QueryError, QuerySuccess] = null
    val jobs = jobsDuring { r = s.query(req) }
    assert(r.toOption.exists(ok => ok.totalMatching == 5 && ok.resultCount == 5 &&
      !ok.countDegraded), r)
    // the rows scan and the count scan, each a single stage
    assert(jobs.size == 2, jobs)
    assert(jobs.forall(_.stageTasks.size == 1), jobs)
    assert(jobs.forall(j => queryTag(j.tags).nonEmpty), jobs)
  }

  test("two concurrent requests get disjoint graft-query job sets") {
    val s = new QueryService(spark, new Catalog(spark, parquetRoot()))
    val reqs = Seq("earning more than 60000", "Show employees whose age is over 40")
      .map(QueryRequest(_, db = "db1", collection = "emps"))
    reqs.foreach(q => assert(s.query(q).isRight)) // warm-up
    val out = new java.util.concurrent.ConcurrentLinkedQueue[Boolean]()
    val jobs = jobsDuring {
      val start = new java.util.concurrent.CountDownLatch(1)
      val threads = reqs.map { q =>
        val t = new Thread(() => {
          start.await()
          out.add(s.query(q).isRight): Unit
        })
        t.start()
        t
      }
      start.countDown()
      threads.foreach(_.join())
    }
    assert(out.asScala.toSeq == Seq(true, true))
    assert(jobs.forall(_.tags.count(_.startsWith("graft-query-")) == 1), jobs)
    val groups = jobs.groupBy(j => queryTag(j.tags)).map { case (t, js) => t -> js.map(_.id).toSet }
    assert(groups.size == 2, jobs)
    assert(groups.values.forall(_.size == 1), jobs)
    val Seq(a, b) = groups.values.toSeq
    assert((a & b).isEmpty, jobs)
  }

  test("catalog: Hive-partitioned parquet reads like spark.read.parquet, " +
      "cached or fresh; replaced part files show at the next resolve") {
    val dir = Files.createTempDirectory("graft-hive").toString
    val path = s"$dir/db1/emps.parquet"
    employees.coalesce(1).write.partitionBy("department").parquet(path)
    val c = new Catalog(spark, dir)
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def sameAsFresh(df: DataFrame): Unit = {
      val fresh = spark.read.parquet(path)
      assert(df.schema == fresh.schema)
      assert(rows(df) == rows(fresh))
    }
    sameAsFresh(c.resolve("db1", "emps")) // infers
    var cached: DataFrame = null
    assert(jobsDuring { cached = c.resolve("db1", "emps") }.isEmpty)
    sameAsFresh(cached)
    assert(cached.columns.last == "department")

    // replace every partition's part file with one that adds `bonus` and
    // one more row; the directories and file count stay as they were
    val staged = s"$dir/staged"
    employees.union(employees.limit(1)).withColumn("bonus", lit(1.5))
      .coalesce(1).write.partitionBy("department").parquet(staged)
    val later = java.nio.file.attribute.FileTime.fromMillis(
      System.currentTimeMillis() + 5000) // defeat mtime granularity
    def parts(root: String) = Files.walk(Paths.get(root)).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toSeq
    def crc(p: java.nio.file.Path) = p.resolveSibling(s".${p.getFileName}.crc")
    for (old <- parts(path)) {
      val partDir = old.getParent.getFileName.toString
      val Seq(next) = parts(s"$staged/$partDir")
      Files.delete(old)
      Files.move(crc(next), crc(old), StandardCopyOption.REPLACE_EXISTING)
      Files.setLastModifiedTime(Files.move(next, old), later): Unit
    }
    val after = c.resolve("db1", "emps")
    assert(after.columns.contains("bonus"))
    assert(after.count() == employees.count() + 1)
    sameAsFresh(after)
    assert(after.filter(col("bonus") === 1.5).count() == employees.count() + 1)
  }

  test("query history: every call appends, stats match the UI arithmetic") {
    val s = new QueryService(spark, catalog) // fresh buffer, not the shared svc
    assert(s.historyStats() == HistoryStats(0, 0.0, 0.0))
    s.query(QueryRequest("earning more than 60000")): Unit // success
    s.query(QueryRequest("hello", collection = "nope")): Unit // INTERNAL_ERROR
    s.queryJson(QueryRequest("""{"filter": {"$or": [{"a": 1}]}}""")): Unit // 400
    val h = s.history
    assert(h.size == 3)
    assert(h(0).success && h(0).resultCount == 3 && h(0).error.isEmpty)
    assert(!h(1).success && h(1).error.nonEmpty)
    assert(!h(2).success && h(2).error.exists(_.contains("$or")))
    val st = s.historyStats()
    assert(st.nQueries == 3)
    assert(math.abs(st.successRate - 100.0 / 3) < 1e-9)
    assert(st.meanExec >= 0.0 && st.meanExec <= h.map(_.executionTime).max)
    s.clearHistory()
    assert(s.history.isEmpty && s.historyStats().nQueries == 0)
  }

  test("catalog: json schema memoized by mtime — re-inferred on change") {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/db1"))
    val f = java.nio.file.Paths.get(s"$dir/db1/docs.json")
    java.nio.file.Files.writeString(f, "{\"a\": 1, \"b\": \"x\"}\n")
    val c = new Catalog(spark, dir)
    assert(c.resolve("db1", "docs").columns.sorted.toSeq == Seq("a", "b"))
    assert(c.resolve("db1", "docs").columns.sorted.toSeq == Seq("a", "b"))
    // a live schemaless collection grows a NEW field: the mtime bump must
    // invalidate the cached schema so queries can see column "d"
    java.nio.file.Files.writeString(f,
      "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"d\": true}\n")
    java.nio.file.Files.setLastModifiedTime(f, // defeat mtime granularity
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    val df = c.resolve("db1", "docs")
    assert(df.columns.sorted.toSeq == Seq("a", "b", "d"))
    assert(df.count() == 2)
  }

  test("catalog: orc collections resolve like parquet (self-describing)") {
    val dir = java.nio.file.Files.createTempDirectory("graft-orc").toString
    employees.write.orc(s"$dir/db1/emps.orc")
    val df = new Catalog(spark, dir).resolve("db1", "emps")
    assert(df.count() == employees.count())
    assert(df.columns.sorted.toSeq == employees.columns.sorted.toSeq)
  }

  test("catalog: json documents read like a schemaless collection") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cat").toString
    java.nio.file.Files.createDirectory(java.nio.file.Paths.get(s"$dir/db1"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/db1/docs.json"),
      """{"a": 1, "b": "x"}
        |{"a": 2, "c": true}
        |""".stripMargin)
    val df = new Catalog(spark, dir).resolve("db1", "docs")
    assert(df.count() == 2)
    // schemaless union: fields from both docs present, missing -> null
    assert(df.columns.sorted.toSeq == Seq("a", "b", "c"))
  }
}
