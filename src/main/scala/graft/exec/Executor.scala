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
  * [[exec]] runs no `limit` operator and no shuffle: a filtered request is
  * ONE job over the sanitized rows that returns both the first `k` rows
  * and the total (the reference's `find(...).limit(n)` + `count_documents`,
  * No_Sql.py:404-416), its count budget a wall-clock bound each task
  * checks. The empty-filter count (`estimated_document_count`,
  * No_Sql.py:416) is a second scan, over `df.select()`: Parquet reads take
  * Spark's V1 file source (`useV1SourceList`), where
  * `spark.sql.parquet.aggregatePushdown` does not apply, so it plans
  * `FileScan parquet []` with `ReadSchema: struct<>` — no column is read,
  * but it is still one job over every file. Every deadline beyond the
  * count budget is the caller's ([[runCancellable]]).
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
    * every Spark job `body` submits carries it. At the deadline, and every
    * 200 ms after it until `body` returns, the reaper sets `expired` and
    * cancels the tag's jobs — a job submitted after a flag check that raced
    * the deadline is still reaped by the next tick. `body` should check
    * `expired` before starting work. Returns None once the deadline has
    * passed, whether `body` returned or failed (a cancelled job surfaces as
    * an exception). */
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

  /** One job, no shuffle, over every partition of `rows`: each task
    * JSON-encodes its first `k` rows with `Dataset.toJSON`'s encoder, then
    * keeps counting while the wall clock is before `countUntil` (epoch ms;
    * 0 stops after `k`). The caller gets the first `k` rows in partition
    * order — the rows `rows.toJSON.collect().take(k)` gives — and the
    * total, known only when every task reached its partition's end. The
    * clock is read between rows, so a stretch of rows the filter drops
    * runs to its next match or its partition's end before the next check. */
  private def scan(rows: DataFrame, k: Int,
                   countUntil: Long): (Seq[String], Option[Long]) = {
    val schema = rows.schema
    val tz = rows.sparkSession.conf.get("spark.sql.session.timeZone")
    val parts = rows.sparkSession.sparkContext.runJob(
      rows.queryExecution.toRdd,
      (ctx: TaskContext, it: Iterator[InternalRow]) => {
        // checks the kill flag at every row it passes on, so a cancelled
        // request's tasks stop early instead of running to their
        // partition's end
        val rowsIn = new InterruptibleIterator(ctx, it)
        lazy val json = GraftBridge.jsonEncoder(schema, tz)
        val first = Array.newBuilder[String]
        var n = 0L
        var more = true
        while (more && (n < k || System.currentTimeMillis() < countUntil)) {
          more = rowsIn.hasNext
          if (more) {
            val row = rowsIn.next()
            if (n < k) first += json(row)
            n += 1
          }
        }
        (first.result(), n, !more)
      })
    (parts.iterator.flatMap(_._1).take(k).toSeq,
      if (parts.forall(_._3)) Some(parts.iterator.map(_._2).sum) else None)
  }

  /** Full reference-parity execution: the first `k` sanitized rows like
    * the reference's `list(cursor)` (No_Sql.py:405) plus the total over
    * the UNlimited filter (No_Sql.py:414-416), with the count held to
    * `countTimeoutMs` of wall clock. A filtered request is one [[scan]]
    * that yields both; an empty filter takes a rows-only scan and then a
    * count scan over no column (`estimated_document_count`). A count that
    * runs out of time, or a scan that fails — the reference catches every
    * count exception — degrades the total to `results.length`
    * (No_Sql.py:419-421); a failed filtered scan is answered by a
    * rows-only scan unless `expired`, the caller's [[runCancellable]]
    * flag, is set. */
  def exec(df: DataFrame, spec: QuerySpec, limit: Int = DefaultLimit,
           countTimeoutMs: Long = CountTimeoutMs,
           expired: AtomicBoolean = new AtomicBoolean(false)): QueryResult = {
    val k = clampLimit(spec.limit.getOrElse(limit))
    val rows = Sanitizer.sanitize(plan(df, spec.copy(limit = None)))
    def countUntil = System.currentTimeMillis() + countTimeoutMs
    val (results, total) =
      if (spec.filter == FilterExpr.True) {
        val results = scan(rows, k, 0L)._1
        (results, try scan(df.select(), 0, countUntil)._2
                  catch { case NonFatal(_) => None })
      } else
        try scan(rows, k, countUntil)
        catch { case NonFatal(_) if !expired.get() => (scan(rows, k, 0L)._1, None) }
    QueryResult(total.getOrElse(results.length.toLong), results,
      MongoJson.toJson(spec), countDegraded = total.isEmpty)
  }
}
