package graft.exec

import graft.compile.FilterCompiler
import graft.ir.{FilterExpr, MongoJson, QuerySpec, UnsupportedQueryException}
import org.apache.spark.SparkContext
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import java.util.concurrent.{ScheduledThreadPoolExecutor, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean
import scala.util.control.NonFatal

/** Execution of a [[QuerySpec]] over a DataFrame — the Spark analog of the
  * reference's `run_mongo_query` (/root/reference/No_Sql.py:379-445):
  * filter → total-matching count → projection → clamped limit → sanitize.
  * The response envelope's per-phase timings (app_server.py:84-93) are
  * taken by the caller, [[graft.api.QueryService]].
  *
  * Plan-shape notes (SURVEY.md §4): the filter is one Column conjunction →
  * Catalyst pushes it into the Parquet scan (`PushedFilters`); the
  * projection is a plain `select` → column pruning reaches `ReadSchema`; the
  * limit lands on `CollectLimitExec`. The count's metadata fast path
  * (`estimated_document_count`, No_Sql.py:416) maps to Spark's Parquet
  * footer count — `spark.sql.parquet.aggregatePushdown=true` is set in the
  * session profile ([[graft.GraftSession]]) so an empty-filter `count()`
  * never scans data.
  */
object Executor {

  /** Result envelope (app_server.py:84-93): total matching count, the
    * (≤ limit) sanitized rows collected like the reference's `list(cursor)`
    * (No_Sql.py:405), the echoed query, and whether the count degraded to
    * `len(results)` on timeout (No_Sql.py:419-421). */
  final case class QueryResult(
      totalMatching: Long,
      results: Seq[String],
      mongoQueryJson: String,
      countDegraded: Boolean)

  /** Limit clamp [1, 1000] (No_Sql.py:397; app_server.py:78). */
  def clampLimit(n: Int): Int = math.max(1, math.min(n, 1000))

  val DefaultLimit = 50           // app_server.py:78, main.py:331
  val CountTimeoutMs = 3000L      // count_documents maxTimeMS (No_Sql.py:416)

  /** Lazy plan only — no action. Callers pick collect/count/write. */
  def plan(df: DataFrame, spec: QuerySpec): DataFrame = {
    val filtered = spec.filter match {
      case FilterExpr.True => df
      case f               => df.filter(FilterCompiler.compile(f, df.schema))
    }
    val projected = spec.projection match {
      case Nil  => filtered
      case cols =>
        val missing = cols.filterNot(df.schema.fieldNames.contains)
        if (missing.nonEmpty)
          throw new UnsupportedQueryException(
            s"projection references unknown field(s): ${missing.mkString(", ")}")
        filtered.select(cols.map(col): _*)
    }
    spec.limit.map(n => projected.limit(clampLimit(n))).getOrElse(projected)
  }

  /** The one thread that enforces every deadline in the process. It only
    * flips flags and posts job cancellations, so one thread serves any
    * number of concurrent requests; cancelled reapers leave its queue at
    * once instead of waiting out their delay. */
  private val deadlines = {
    val s = new ScheduledThreadPoolExecutor(1, { (r: Runnable) =>
      val t = new Thread(r, "graft-deadline")
      t.setDaemon(true)
      t
    })
    s.setRemoveOnCancelPolicy(true)
    s
  }

  /** Timed, cancellable phase run INLINE on the calling thread.
    *
    * Cancellation is job-TAG based: the tag goes on the caller's thread, so
    * every Spark job `body` submits carries it, and a nested phase (the
    * count inside the service's DB phase) inherits the outer tag by
    * construction. At the deadline, and every 200 ms after it until `body`
    * returns, the reaper sets `expired` and cancels the tag's jobs — a job
    * submitted after a flag check that raced the deadline is still reaped
    * by the next tick. `body` should check `expired` before starting work.
    * Returns None once the deadline has passed, whether `body` returned or
    * failed (a cancelled job surfaces as an exception). */
  private[graft] def runCancellable[T](sc: SparkContext, tagPrefix: String,
      timeoutMs: Long)(body: AtomicBoolean => T): Option[T] = {
    val tag = s"$tagPrefix-${java.util.UUID.randomUUID()}"
    val expired = new AtomicBoolean(false)
    val reaper = deadlines.scheduleWithFixedDelay(() => {
      expired.set(true)
      sc.cancelJobsWithTag(tag)
    }, timeoutMs, 200L, TimeUnit.MILLISECONDS)
    try {
      sc.addJobTag(tag)
      val out = body(expired)
      if (expired.get()) None else Some(out)
    } catch {
      case NonFatal(_) if expired.get() => None
    } finally {
      reaper.cancel(false)
      sc.removeJobTag(tag)
    }
  }

  /** Count with the reference's degradation policy: a count that exceeds
    * `timeoutMs` is cancelled ([[runCancellable]]) and — like ANY other
    * count failure (the reference catches every exception, not just
    * timeouts: No_Sql.py:418-421) — falls back to `fallback` (the
    * reference's `len(results)`); the results themselves were already
    * collected, so a transient count failure must not fail the query. */
  def countWithTimeout(df: DataFrame, timeoutMs: Long,
                       fallback: => Long): (Long, Boolean) =
    runCancellable(df.sparkSession.sparkContext, "graft-count", timeoutMs) {
      expired =>
        if (expired.get()) None // timeout already fired: don't submit
        else try Some(df.count())
        catch { case NonFatal(_) => None }
    } match {
      case Some(Some(n)) => (n, false)
      case _             => (fallback, true)
    }

  /** Full reference-parity execution: collected rows + total-matching
    * count. Count runs on the UNlimited, UNprojected filtered
    * frame (No_Sql.py:414-416); empty filter takes the metadata-count path
    * (aggregate pushdown); count timeout degrades to `results.length`. */
  def exec(df: DataFrame, spec: QuerySpec, limit: Int = DefaultLimit,
           countTimeoutMs: Long = CountTimeoutMs): QueryResult = {
    val rows = Sanitizer.sanitize(
      plan(df, spec.copy(limit = Some(spec.limit.getOrElse(limit)))))
    val results = rows.toJSON.collect().toSeq // list(cursor), No_Sql.py:405
    // the count's frame: filter only — plan() with projection and limit
    // stripped, so the filter-compilation semantics cannot diverge
    val filtered = plan(df, spec.copy(projection = Nil, limit = None))
    val (total, degraded) =
      countWithTimeout(filtered, countTimeoutMs, results.length.toLong)
    QueryResult(total, results, MongoJson.toJson(spec), degraded)
  }
}
