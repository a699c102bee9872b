package graft.api

import graft.compile.NlCompiler
import graft.exec.Executor
import graft.ir.{MongoJson, QuerySpec, UnsupportedQueryException}
import graft.sources.Catalog
import org.apache.spark.sql.SparkSession

/** The reference's POST /query lifecycle (SURVEY.md §3.1,
  * /root/reference/app_server.py:202-278) as an engine-level service:
  * validated request → timed generation phase (≤ 70% of the budget) →
  * timed execution phase (remainder − 1 s, floor 2 s) → typed response
  * envelope; typed error envelope (TIMEOUT/HTTP/INTERNAL with suggestion)
  * on every failure path (app_server.py:292-332).
  *
  * The generation phase runs the deterministic NL compiler — the
  * reference's only self-contained compiler; its LLM path is an external
  * service, not engine logic (SURVEY.md preamble). `queryJson` accepts a
  * raw (possibly damaged) find-spec instead, running the §2.7 repair
  * cascade as its generation phase.
  */
final class QueryService(spark: SparkSession, catalog: Catalog) {

  import QueryService._

  /** Per-request history, the reference's `st.session_state.query_history`
    * (/root/reference/main.py:103-131): every query — success or failure —
    * appends one entry; [[historyStats]] aggregates them with the same
    * arithmetic as the UI's summary metrics (main.py:263-268). Bounded to
    * the newest [[QueryService.HistoryCap]] entries so a long-lived service
    * can't grow driver memory without limit. */
  private val historyBuf = new java.util.ArrayDeque[HistoryEntry]()
  private val historyLock = new Object

  /** POST /query (app_server.py:202-278). */
  def query(req: QueryRequest): Either[QueryError, QuerySuccess] =
    recorded(req)(run(req)(() => NlCompiler.compile(req.input)))

  /** Same lifecycle, generation = the LLM-response repair cascade
    * (No_Sql.py:269-302) over a raw find-spec payload. */
  def queryJson(req: QueryRequest): Either[QueryError, QuerySuccess] =
    recorded(req)(run(req)(() => MongoJson.parseWithRepair(req.input)))

  private def recorded(req: QueryRequest)(
      runIt: => Either[QueryError, QuerySuccess])
      : Either[QueryError, QuerySuccess] = {
    val t0 = System.nanoTime()
    val out = runIt
    // failed entries record the ELAPSED time, exactly as the reference's
    // client does (main.py:131 `"execution_time": elapsed_time`) — a
    // 30 s timeout must weigh 30 s in mean_execution_time, not 0
    val elapsed = round3((System.nanoTime() - t0) / 1e9)
    val query = clip(req.input)
    val entry = out match {
      case Right(ok) => HistoryEntry(query, req.db, req.collection,
        success = true, ok.executionTime, ok.resultCount, error = None)
      case Left(err) => HistoryEntry(query, req.db, req.collection,
        success = false, elapsed, 0, error = Some(err.error))
    }
    historyLock.synchronized {
      historyBuf.addLast(entry)
      if (historyBuf.size > HistoryCap) historyBuf.pollFirst(): Unit
    }
    out
  }

  /** Accumulated request history, oldest first (main.py render table). */
  def history: Seq[HistoryEntry] = historyLock.synchronized {
    historyBuf.toArray(new Array[HistoryEntry](0)).toSeq
  }

  def clearHistory(): Unit = historyLock.synchronized { // main.py:275
    historyBuf.clear()
  }

  /** The UI's summary metrics (main.py:263-268): total queries, success
    * rate (%), mean execution time — computed over THIS service's own
    * accumulated calls, with the engine's usual decimal-exact mean. */
  def historyStats(): HistoryStats = QueryService.statsOf(history)

  private def run(req: QueryRequest)(
      gen: () => QuerySpec): Either[QueryError, QuerySuccess] = {
    val t0 = System.nanoTime()
    def secs(since: Long) = (System.nanoTime() - since) / 1e9
    // pydantic validation surface (app_server.py:74-82) → 422 HTTP_ERROR
    if (req.input.isEmpty)
      return Left(QueryError("input must be non-empty", "HTTP_ERROR", 422, None))
    if (req.limit < 1 || req.limit > 1000)
      return Left(QueryError("limit must be in [1, 1000]", "HTTP_ERROR", 422, None))
    if (req.timeoutSec < 5 || req.timeoutSec > 60)
      return Left(QueryError("timeout must be in [5, 60] seconds", "HTTP_ERROR", 422, None))
    try {
      // Stage 1: generation gets ≤ 70% of the budget (app_server.py:221),
      // checked when the inline generator returns: a CPU-bound generator
      // polls no interrupt, so another thread could only abandon it. Both
      // generators are linear in the input HttpApi caps at 1 MiB (NlCompiler
      // caps its digit run; MongoJson's repair uses no backtracking regex).
      val genBudget = req.timeoutSec * 0.7
      val genStart = System.nanoTime()
      val spec = gen()
      val genSec = secs(genStart)
      if (genSec > genBudget)
        throw new Timeout(
          f"Query generation timed out after $genBudget%.1f seconds")

      // Stage 2: DB phase gets the remainder − 1 s buffer, floor 2 s
      // (app_server.py:229-232). The phase runs under Executor's
      // tag + flag + repeating-reaper harness on this thread, so a timeout
      // CANCELS the underlying Spark jobs (the count scan's too: it is the
      // request's one deadline) rather than leaving a zombie scan burning
      // executors after the client's 408; the 408 arrives when the
      // in-flight job is cancelled.
      val remaining = math.max(req.timeoutSec - genSec - 1.0, 2.0)
      val dbStart = System.nanoTime()
      // resolve() runs INSIDE the budgeted, cancellable phase: first
      // touch of a json/csv collection schema-infers with a full scan,
      // and the reference runs ALL its DB-side setup under the
      // asyncio.wait_for budget (app_server.py:229-245) — outside it,
      // the client's timeout simply would not be honored
      val result = Executor.runCancellable(spark.sparkContext, "graft-query",
          (remaining * 1000).toLong) { expired =>
        if (expired.get()) throw new Timeout("cancelled before start")
        val df = catalog.resolve(req.db, req.collection)
        Executor.exec(df, spec, req.limit, expired = expired)
      }.getOrElse(throw new Timeout(
        f"Database query timed out after $remaining%.1f seconds"))
      val dbSec = secs(dbStart)

      Right(QuerySuccess(
        mongoQuery = result.mongoQueryJson,
        totalMatching = result.totalMatching,
        results = result.results,
        resultCount = result.results.length,
        executionTime = round3(secs(t0)),
        queryGenerationTime = round3(genSec),
        dbExecutionTime = round3(dbSec),
        timeoutUsed = req.timeoutSec,
        countDegraded = result.countDegraded))
    } catch {
      // typed error envelope (app_server.py:292-332)
      case e: Timeout => Left(QueryError(e.getMessage, "TIMEOUT_ERROR", 408,
        Some("Try increasing the timeout value or simplifying the query")))
      case e: UnsupportedQueryException =>
        Left(QueryError(e.getMessage, "HTTP_ERROR", 400, None))
      case e: Exception =>
        Left(QueryError(s"Internal server error: ${e.getMessage}",
          "INTERNAL_ERROR", 500, None))
    }
  }

  /** GET /test (app_server.py:172-199): generation-only smoke path with the
    * reference's fixed input. */
  def test(): (String, Double) = {
    val t0 = System.nanoTime()
    val spec = NlCompiler.compile("Find all employees")
    (MongoJson.toJson(spec), round3((System.nanoTime() - t0) / 1e9))
  }

  /** GET /health (app_server.py:146-169): engine + storage connectivity. */
  def health(db: String = "testdb", collection: String = "testcoll"): Health = {
    val engineOk =
      try spark.range(1).count() == 1L
      catch { case _: Exception => false }
    val storageOk =
      try { catalog.resolve(db, collection).schema; true }
      catch { case _: Exception => false }
    Health(engineOk && storageOk, engineOk, storageOk)
  }
}

object QueryService {
  /** QueryRequest (app_server.py:74-82) — same fields, same defaults. */
  final case class QueryRequest(
      input: String,
      db: String = "testdb",
      collection: String = "testcoll",
      limit: Int = 50,
      timeoutSec: Int = 30)

  /** QueryResponse (app_server.py:84-93). */
  final case class QuerySuccess(
      mongoQuery: String,
      totalMatching: Long,
      results: Seq[String],
      resultCount: Int,
      executionTime: Double,
      queryGenerationTime: Double,
      dbExecutionTime: Double,
      timeoutUsed: Int,
      countDegraded: Boolean)

  /** Error envelope (app_server.py:292-332). */
  final case class QueryError(
      error: String,
      errorType: String, // TIMEOUT_ERROR | HTTP_ERROR | INTERNAL_ERROR
      statusCode: Int,
      suggestion: Option[String])

  final case class Health(ok: Boolean, engineOk: Boolean, storageOk: Boolean)

  /** One query-history row (main.py:103-131 dict shape). */
  final case class HistoryEntry(
      query: String,
      db: String,
      collection: String,
      success: Boolean,
      executionTime: Double,
      resultCount: Int,
      error: Option[String])

  /** History summary metrics (main.py:263-268). */
  final case class HistoryStats(
      nQueries: Long, successRate: Double, meanExec: Double)

  /** Newest-N bound on the in-memory history buffer. */
  val HistoryCap = 10000

  /** A history entry keeps at most this many chars of its query: with
    * HttpApi's 1 MiB body cap, whole inputs could pin ~10 GB of JVM
    * heap at [[HistoryCap]] entries. */
  val HistoryQueryChars = 1024

  /** The first [[HistoryQueryChars]] chars of `s`, never ending inside a
    * surrogate pair (the history's JSON must stay encodable). */
  private def clip(s: String): String =
    if (s.length <= HistoryQueryChars) s
    else s.substring(0,
      if (Character.isHighSurrogate(s.charAt(HistoryQueryChars - 1)))
        HistoryQueryChars - 1
      else HistoryQueryChars)

  /** The UI's summary arithmetic (main.py:263-268) over ONE history
    * snapshot — shared by [[QueryService.historyStats]] and the HTTP
    * endpoint, which must compute rows and stats from the SAME
    * snapshot or a concurrent query makes them disagree. */
  def statsOf(h: Seq[HistoryEntry]): HistoryStats =
    if (h.isEmpty) HistoryStats(0, 0.0, 0.0)
    else HistoryStats(
      h.size,
      h.count(_.success) * 100.0 / h.size,
      (h.map(e => new java.math.BigDecimal(e.executionTime))
        .reduce(_.add(_)).doubleValue) / h.size)

  private def round3(d: Double): Double = math.rint(d * 1000) / 1000

  /** Either phase ran out of its budget → 408 TIMEOUT_ERROR. */
  private final class Timeout(msg: String) extends RuntimeException(msg)
}
