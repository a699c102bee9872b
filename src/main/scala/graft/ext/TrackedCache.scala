package graft.ext

import org.apache.spark.sql.DataFrame

/** Shared cache lifecycle for operators whose plans read an intermediate
  * frame more than once (dedup pair self-joins, tf-idf's tf frame):
  * persist at creation, release explicitly once the result is consumed.
  * Without the release, each call leaks blocks into the LRU and a long
  * session ends up evicting and recomputing hot data (observed as a 4x
  * slowdown of late queries in BENCH_r03 plus "Asked to cache already
  * cached data" warnings).
  *
  * Eager local checkpoints (the iterative operators' per-round frames:
  * [[Components.connectedComponents]], [[Triangles.kCore]]) share the
  * same owner: [[checkpointTracked]] records them, so the one release
  * frees a returned result's checkpoint and a failed run's rounds too.
  *
  * A queue (not a set): repeated calls each add their own blocks and each
  * deserves its own release.
  *
  * `private[graft]`: the declared-query layer (SparkEntry's composed
  * pipeline entries) shares the same lifecycle — anything persisted or
  * checkpointed here is released by the harness's per-query
  * `Dedup.unpersistAll`. */
private[graft] object TrackedCache {

  private val tracked =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()
  private val checkpoints =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  def persistTracked(df: DataFrame): DataFrame = {
    val p = df.persist()
    tracked.add(p)
    p
  }

  /** An eager local checkpoint (a leaf plan: lineage stays flat across
    * rounds) whose blocks the next [[unpersistAll]] releases. */
  def checkpointTracked(df: DataFrame): DataFrame = {
    val c = df.localCheckpoint(true)
    checkpoints.add(c)
    c
  }

  /** Release a local checkpoint's storage now — the per-round free of
    * the iterative operators, once the next round is materialized.
    * `Dataset.unpersist` only talks to the CacheManager and is a silent
    * no-op for checkpoints (their blocks are RDD-level), so the
    * underlying RDD is unpersisted. Freeing twice is harmless. */
  def freeCheckpoint(df: DataFrame, blocking: Boolean = false): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking)
    }: Unit

  /** Release every tracked persist, then every tracked checkpoint. A
    * frame read after the release recomputes from a persist's lineage,
    * but a released checkpoint has none: release only once every
    * result that reads one has been consumed. */
  def unpersistAll(blocking: Boolean = false): Unit = {
    var df = tracked.poll()
    while (df != null) {
      df.unpersist(blocking)
      df = tracked.poll()
    }
    df = checkpoints.poll()
    while (df != null) {
      freeCheckpoint(df, blocking)
      df = checkpoints.poll()
    }
  }
}
