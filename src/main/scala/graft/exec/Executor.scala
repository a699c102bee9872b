package graft.exec

import graft.compile.FilterCompiler
import graft.ir.{FilterExpr, MongoJson, QuerySpec, UnsupportedQueryException}
import org.apache.spark.{InterruptibleIterator, SparkContext, TaskContext}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graftbridge.GraftBridge
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
  * projection is a plain `select` → column pruning reaches `ReadSchema`.
  * [[exec]] runs no `limit` operator: a filtered request is ONE job over
  * the sanitized rows that returns both the first `k` rows and the total
  * (the reference's `find(...).limit(n)` + `count_documents`,
  * No_Sql.py:404-416), with no shuffle. The empty-filter count
  * (`estimated_document_count`, No_Sql.py:416) is a plain `count()`:
  * Parquet reads take Spark's V1 file source (`useV1SourceList`), where
  * `spark.sql.parquet.aggregatePushdown` does not apply, so it plans
  * `FileScan parquet []` with `ReadSchema: struct<>` — no column is read,
  * but it is still one job over every file.
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

  /** `body` under the `graft-count` deadline ([[runCancellable]]): None
    * when it ran out of time or failed in any way — the reference catches
    * every count exception, not just timeouts (No_Sql.py:418-421). */
  private def countPhase[T](sc: SparkContext, timeoutMs: Long)(
      body: => T): Option[T] =
    runCancellable(sc, "graft-count", timeoutMs) { expired =>
      if (expired.get()) None // timeout already fired: don't submit
      else try Some(body)
      catch { case NonFatal(_) => None }
    }.flatten

  /** Count with the reference's degradation policy: a count that exceeds
    * `timeoutMs` or fails falls back to `fallback` (the reference's
    * `len(results)`); the results themselves were already collected, so a
    * transient count failure must not fail the query. */
  def countWithTimeout(df: DataFrame, timeoutMs: Long,
                       fallback: => Long): (Long, Boolean) =
    countPhase(df.sparkSession.sparkContext, timeoutMs)(df.count()) match {
      case Some(n) => (n, false)
      case None    => (fallback, true)
    }

  /** One job, no shuffle, over every partition of `rows`: each task
    * JSON-encodes its first `k` rows with `Dataset.toJSON`'s encoder and,
    * when `countAll`, keeps counting to its partition's end (otherwise it
    * stops after `k`). The caller gets the first `k` rows in partition
    * order — the rows `rows.toJSON.collect().take(k)` gives — and the
    * summed count, exact only when `countAll`. */
  private def scan(rows: DataFrame, k: Int,
                   countAll: Boolean): (Seq[String], Long) = {
    val schema = rows.schema
    val tz = rows.sparkSession.conf.get("spark.sql.session.timeZone")
    val parts = rows.sparkSession.sparkContext.runJob(
      rows.queryExecution.toRdd,
      (ctx: TaskContext, it: Iterator[InternalRow]) => {
        // checks the kill flag at every row it passes on, so a cancelled
        // count's tasks stop early instead of running to their partition's
        // end and holding cores the fallback scan needs
        val rowsIn = new InterruptibleIterator(ctx, it)
        val json = GraftBridge.jsonEncoder(schema, tz)
        val first = Array.newBuilder[String]
        var n = 0L
        while ((countAll || n < k) && rowsIn.hasNext) {
          val row = rowsIn.next()
          if (n < k) first += json(row)
          n += 1
        }
        (first.result(), n)
      })
    (parts.iterator.flatMap(_._1).take(k).toSeq, parts.iterator.map(_._2).sum)
  }

  /** Full reference-parity execution: the first `k` sanitized rows like
    * the reference's `list(cursor)` (No_Sql.py:405) plus the total over
    * the UNlimited filter (No_Sql.py:414-416). A filtered request is one
    * [[scan]] under the count deadline that yields both; on expiry or any
    * failure a rows-only scan answers and the total degrades to
    * `results.length` (No_Sql.py:419-421). An empty filter takes the
    * rows-only scan and the metadata-count path. */
  def exec(df: DataFrame, spec: QuerySpec, limit: Int = DefaultLimit,
           countTimeoutMs: Long = CountTimeoutMs): QueryResult = {
    val k = clampLimit(spec.limit.getOrElse(limit))
    val rows = Sanitizer.sanitize(plan(df, spec.copy(limit = None)))
    def firstRows = scan(rows, k, countAll = false)._1
    val (results, total, degraded) =
      if (spec.filter == FilterExpr.True) {
        val results = firstRows
        val (n, degraded) =
          countWithTimeout(df, countTimeoutMs, results.length.toLong)
        (results, n, degraded)
      } else countPhase(df.sparkSession.sparkContext, countTimeoutMs)(
          scan(rows, k, countAll = true)) match {
        case Some((results, n)) => (results, n, false)
        case None =>
          val results = firstRows
          (results, results.length.toLong, true)
      }
    QueryResult(total, results, MongoJson.toJson(spec), degraded)
  }
}
