package graft.api

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import com.fasterxml.jackson.databind.util.RawValue
import com.sun.net.httpserver.{HttpExchange, HttpServer}

import java.net.InetSocketAddress

/** HTTP binding for [[QueryService]] — the reference's FastAPI surface
  * (/root/reference/app_server.py) on the JDK's built-in HttpServer (zero
  * added dependencies):
  *
  *   - `POST /query`       NL request → full response envelope (:202-278)
  *   - `POST /query/json`  raw find-spec through the §2.7 repair cascade
  *   - `GET  /test`        generation-only smoke probe (:172-199)
  *   - `GET  /health`      engine + storage connectivity (:146-169)
  *
  * Wire shapes mirror the reference's pydantic models: requests take
  * `{input, db, collection, limit, timeout}` with the same defaults and
  * bounds; success bodies carry `ok, mongo_query, total_matching, results,
  * result_count, execution_time, query_generation_time, db_execution_time,
  * timeout_used` (app_server.py:84-93) and error bodies
  * `ok=false, error, error_type, status_code, suggestion` (:292-332) with
  * the HTTP status matching `status_code`.
  *
  * The server itself is intentionally thin: every decision (validation,
  * budgets, typed errors, job cancellation) lives in [[QueryService]],
  * which is what the engine-level tests certify — this class only moves
  * bytes. Handlers run on a daemon cached pool, and each request runs
  * whole on its handler thread — compiler, catalog and Spark actions;
  * deadlines only cancel its tagged jobs from [[graft.exec.Executor]]'s
  * one shared reaper — the shape of the reference's `asyncio.to_thread`.
  */
final class HttpApi(service: QueryService, port: Int = 0) {

  import QueryService._

  private val mapper = new ObjectMapper()
  private val server = {
    // the JDK server writes a response's headers and body as two writes;
    // with Nagle on, the body waits out the client's delayed ACK (~40 ms
    // on Linux). The JDK reads this property once, before its first
    // server, so it is set here unless the operator already chose.
    if (System.getProperty("sun.net.httpserver.nodelay") == null)
      System.setProperty("sun.net.httpserver.nodelay", "true")
    HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  }

  private def test(): (Int, ObjectNode) = {
    val t0 = System.nanoTime()
    val (mongoJson, genSec) = service.test()
    val out = mapper.createObjectNode()
    out.put("status", "ok")
    out.put("test_query", "Find all employees")
    out.set[ObjectNode]("generated_mongo", mapper.readTree(mongoJson))
    out.put("execution_time",
      math.rint((System.nanoTime() - t0) / 1e9 * 1000) / 1000)
    out.put("generation_time", genSec)
    (200, out)
  }

  private def health(): (Int, ObjectNode) = {
    val h = service.health()
    val out = mapper.createObjectNode()
    // reference fields: mongodb_connected → storage, llm_connected →
    // engine (the deterministic compiler needs no remote LLM; the
    // Spark session plays the "is the backend up" role)
    out.put("status", if (h.ok) "healthy" else "degraded")
    out.put("engine_connected", h.engineOk)
    out.put("storage_connected", h.storageOk)
    (200, out)
  }

  private def history(): (Int, ObjectNode) = {
    // the reference keeps history in the UI session (main.py:103-131,
    // summary metrics :263-268); here the service accumulates it and
    // this endpoint serves rows + the same three summary stats
    // ONE snapshot serves both the rows and the summary stats — two
    // independent reads could disagree when a query lands in between
    val snap = service.history
    val st = QueryService.statsOf(snap)
    val out = mapper.createObjectNode()
    out.put("total_queries", st.nQueries)
    out.put("success_rate", st.successRate)
    out.put("mean_execution_time", st.meanExec)
    val rows = mapper.createArrayNode()
    snap.foreach { e =>
      val r = mapper.createObjectNode()
      r.put("query", e.query)
      r.put("db", e.db)
      r.put("collection", e.collection)
      r.put("success", e.success)
      r.put("execution_time", e.executionTime)
      r.put("result_count", e.resultCount)
      e.error.foreach(r.put("error", _))
      rows.add(r): Unit
    }
    out.set[ArrayNode]("history", rows)
    (200, out)
  }

  private def clearHistory(): (Int, ObjectNode) = {
    service.clearHistory() // main.py:275
    val out = mapper.createObjectNode()
    out.put("status", "cleared")
    (200, out)
  }

  /** The one route table: exact path → method → handler. Each path but
    * `/query/json` also answers with one trailing slash. A path not in
    * the table is 404 and a method its path does not take is 405, both
    * in the error envelope. */
  private val routes =
    Map[String, Map[String, HttpExchange => (Int, ObjectNode)]](
      "/query" -> Map("POST" -> (run(_, service.query))),
      "/test" -> Map("GET" -> (_ => test())),
      "/health" -> Map("GET" -> (_ => health())),
      "/history" -> Map("GET" -> (_ => history()),
        "DELETE" -> (_ => clearHistory()))
    ).flatMap { case (p, r) => Seq(p -> r, s"$p/" -> r) } +
      ("/query/json" -> Map("POST" -> (run(_, service.queryJson))))

  // one root context: the JDK matches contexts by raw prefix and answers
  // paths outside every context with its own HTML page
  server.createContext("/", (ex: HttpExchange) => handle(ex))

  /** Start listening; returns the bound port (useful with port = 0). */
  def start(): Int = {
    server.setExecutor(java.util.concurrent.Executors.newCachedThreadPool {
      r =>
        val t = new Thread(r, "graft-http")
        t.setDaemon(true)
        t
    })
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = {
    server.stop(0)
    // the cached pool outlives the server by its 60s keep-alive otherwise —
    // repeated start/stop cycles in one process would accumulate idle threads
    server.getExecutor match {
      case es: java.util.concurrent.ExecutorService => es.shutdown()
      case _ => ()
    }
  }

  // -------------------------------------------------------------------

  /** Decode the request, run one service path, encode the envelope. */
  private def run(ex: HttpExchange,
      call: QueryRequest => Either[QueryError, QuerySuccess]):
      (Int, ObjectNode) = {
    val body =
      try {
        // cap the buffered body: a find-spec request is KBs; multi-MB
        // bodies are either a bug or abuse, and readAllBytes would
        // buffer them whole on the driver heap before any validation
        val bytes = ex.getRequestBody.readNBytes(MaxBodyBytes + 1)
        if (bytes.length > MaxBodyBytes)
          return (413, errorJson(
            s"request body exceeds $MaxBodyBytes bytes",
            "HTTP_ERROR", 413, None))
        mapper.readTree(bytes)
      } catch { case _: Exception => null }
    if (body == null || !body.isObject)
      return (422, errorJson("request body must be a JSON object",
        "HTTP_ERROR", 422, None))
    def str(f: String, dflt: String) =
      if (body.hasNonNull(f)) body.get(f).asText() else dflt
    // asLong, not asInt: Jackson's asInt() TRUNCATES out-of-int-range
    // numerics (2^32+29 -> 29), which would wrap a nonsense value past
    // the range validation below; out-of-range longs clamp to an
    // always-rejected sentinel instead
    def int(f: String, dflt: Int) =
      if (!body.hasNonNull(f)) dflt
      else {
        val v = body.get(f).asLong()
        if (v < Int.MinValue || v > Int.MaxValue) Int.MinValue
        else v.toInt
      }
    val req = QueryRequest(
      input = str("input", ""),
      db = str("db", "testdb"),
      collection = str("collection", "testcoll"),
      limit = int("limit", 50),
      timeoutSec = int("timeout", 30))
    call(req) match {
      case Right(ok) =>
        val out = mapper.createObjectNode()
        out.put("ok", true)
        // the query and the rows are JSON already: spliced in as written
        out.putRawValue("mongo_query", new RawValue(ok.mongoQuery))
        out.put("total_matching", ok.totalMatching)
        val rows = out.putArray("results")
        ok.results.foreach(r => rows.addRawValue(new RawValue(r)): Unit)
        out.put("result_count", ok.resultCount)
        out.put("execution_time", ok.executionTime)
        out.put("query_generation_time", ok.queryGenerationTime)
        out.put("db_execution_time", ok.dbExecutionTime)
        out.put("timeout_used", ok.timeoutUsed)
        out.put("count_degraded", ok.countDegraded)
        (200, out)
      case Left(err) =>
        (err.statusCode,
          errorJson(err.error, err.errorType, err.statusCode, err.suggestion))
    }
  }

  private val MaxBodyBytes = 1 << 20

  private def errorJson(msg: String, errType: String, status: Int,
                        suggestion: Option[String]): ObjectNode = {
    val out = mapper.createObjectNode()
    out.put("ok", false)
    out.put("error", msg)
    out.put("error_type", errType)
    out.put("status_code", status)
    suggestion.foreach(s => out.put("suggestion", s): Unit)
    out
  }

  /** Route on (method, exact path), serialize, reply; a handler's
    * exception is a 500. */
  private def handle(ex: HttpExchange): Unit = {
    val (status, node) =
      try routes.get(ex.getRequestURI.getPath) match {
        case None => (404, errorJson("not found", "HTTP_ERROR", 404, None))
        case Some(byMethod) => byMethod.get(ex.getRequestMethod) match {
          case Some(h) => h(ex)
          case None =>
            (405, errorJson("method not allowed", "HTTP_ERROR", 405, None))
        }
      } catch {
        case e: Exception =>
          (500, errorJson(s"Internal server error: ${e.getMessage}",
            "INTERNAL_ERROR", 500, None))
      }
    val bytes = mapper.writeValueAsBytes(node)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}
