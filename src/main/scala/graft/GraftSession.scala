package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session profile every graft main runs on: Bench,
  * Verify, PerfProbe and the test suite all build through it, so the
  * correctness gate and the suite certify the exact physical plans the
  * bench runs. The only parameter is the core count, which sets both
  * `local[n]` and `spark.sql.shuffle.partitions`. */
object GraftSession {
  /** The session conf for `cores` cores. */
  def conf(cores: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // aggregate pushdown for DSv2 parquet scans (the tx catalog); the V1
    // reads of Catalog's parquet collections ignore it, so the served
    // empty-filter count still scans (plans/serve/empty_filter_count_after.txt)
    "spark.sql.parquet.aggregatePushdown" -> "true",
    // events.ts is TIMESTAMP(NANOS); read as long, converted in Tables.events
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // SMJ→SHJ conversion at RUNTIME only (guide §3.1): AQE rewrites a
    // planned sort-merge join to shuffled-hash when every post-shuffle
    // partition fits under this threshold — measured sizes, so no OOM
    // risk from a misestimated static pick. The r21 static preference
    // (spark.sql.join.preferSortMergeJoin=false) was A/B-measured in
    // r22 (plans/r22/*_smj.txt vs *_shj.txt, 8 join-heavy queries,
    // min-of-3): flat to slightly negative (Σ 15.7 s SMJ-forced vs
    // 16.8 s with the preference), so it is dropped and only the
    // bounded runtime conversion kept.
    "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold" -> "134217728",
    // AQE coalescing floor: the default 1 MiB minPartitionSize collapses
    // byte-small but CPU-DENSE shuffles (expression-heavy windows,
    // verify joins) to 1-2 tasks — measured 0.64 s single-task window in
    // dedup_jaccard_pruned. 64 KiB keeps those parallel; at production
    // shuffle sizes this floor never binds (partitions are >> 1 MiB).
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "65536",
    // SQL functions + the tx-catalog row-level rule (UPDATE/MERGE)
    "spark.sql.extensions" -> "graft.GraftExtensions",
    "spark.ui.enabled" -> "false")

  /** Core count of the mains: `SPARK_GRAFT_CPUS`, default 32. */
  def envCores: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt

  /** A local session on `cores` cores with the profile applied.
    * `overrides` go on LAST, so a measurement experiment wins over the
    * profile (PerfProbe's `SPARK_GRAFT_PROBE_CONF`). */
  def start(cores: Int,
            overrides: Seq[(String, String)] = Nil): SparkSession = {
    val s = (conf(cores) ++ overrides)
      .foldLeft(SparkSession.builder().master(s"local[$cores]")) {
        case (b, (k, v)) => b.config(k, v)
      }.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Untimed warmup: JIT + codegen + parquet-footer caches. Without this
    * the first measured query absorbs ~4s of JVM warmup that has nothing
    * to do with its plan (visible as filter_eq=4.5s in BENCH_r02). */
  def warmup(spark: SparkSession, sfDir: String): Unit =
    try {
      spark.range(1000).selectExpr("sum(id)").collect(): Unit
      Tables.Names.foreach { t =>
        try Tables.table(spark, sfDir, t).limit(1).collect(): Unit
        catch { case _: Throwable => () }
      }
      SparkEntry.queries.get("filter_eq").foreach(fn => fn(spark, sfDir).count(): Unit)
      // warm the heavy custom-kernel paths too (ArrayDot, shingle/sketch
      // codegen): without this, WHICH vector/dedup query ran first absorbed
      // several seconds of C2-compilation — sim_neardup swung 4.5s↔13.4s
      // between otherwise-identical runs. A tiny limited slice compiles the
      // same generated code without doing the real query's work.
      // the IVF family: the warmup also triggers the session-memoized
      // builds (trained coarse quantizer, persisted index, PQ index — the
      // amortized OFFLINE half of an ANN serving path), so the timed
      // numbers are the probe queries those entries actually serve.
      // emb_kmeans is deliberately NOT warmed: it is the declared
      // training query and its timed number IS the training.
      Seq("sim_topk", "dedup_minhash", "sim_ivfpq", "sim_ivf",
        "sim_ivf_indexed").foreach(n =>
        SparkEntry.queries.get(n).foreach { fn =>
          try fn(spark, sfDir).limit(1).collect(): Unit
          catch { case _: Throwable => () }
        })
      graft.ext.Dedup.unpersistAll()
    } catch { case _: Throwable => () }

  /** Run `body` with the SQL confs `pairs` set, then restore each key to
    * its prior value — or unset it when it had none — so a scoped toggle
    * never leaks into what runs after it. */
  def withConf[T](s: SparkSession, pairs: (String, String)*)(body: => T): T = {
    val saved = pairs.map { case (k, _) => k -> s.conf.getOption(k) }
    pairs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }
}
