package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components over a pair list — the step that turns near-dup
  * PAIRS (MinHash/SimHash/LSH output) into dedup CLUSTERS with a canonical
  * representative. Production dedup needs this: pairs (a,b),(b,c) must
  * collapse to one cluster {a,b,c} keeping min-id, not two independent
  * decisions.
  *
  * Algorithm: iterative min-label propagation — every node repeatedly
  * takes the minimum label among itself and its neighbors until a fixpoint.
  * Each round is one equi-join + one groupBy (two shuffles) over the EDGE
  * list, all partition-parallel; rounds needed = graph diameter, and
  * near-dup graphs are unions of small dense clusters (diameter a few
  * hops), so convergence is fast regardless of corpus size. The label
  * frame is localCheckpoint'ed each round to cut the growing lineage —
  * without it, iteration k replans k joins deep. Every checkpoint is
  * tracked ([[TrackedCache]]): earlier rounds are freed as the loop
  * goes, the result's and an over-budget run's by `Dedup.unpersistAll`.
  *
  * Converged = a fixpoint: the round's labels equal the previous round's
  * everywhere. Over budget → loud failure, never a silently-partial
  * clustering.
  */
object Components {

  /** @param edges undirected pair list (columns `src`, `dst`)
    * @return (id, component) — component = min node id reachable, i.e. the
    *         canonical representative; only nodes present in `edges`
    *         appear (singletons have no pair and need no resolution) */
  def connectedComponents(edges: DataFrame, maxIter: Int = 50): DataFrame = {
    // read many times; the pair job runs ONCE
    val symWide = TrackedCache.checkpointTracked(
      edges.select(col("src").cast("long").as("src"),
          col("dst").cast("long").as("dst"))
        .union(edges.select(col("dst").cast("long").as("src"),
          col("src").cast("long").as("dst"))))
    // size the MAP-side parallelism of each round to the MATERIALIZED
    // edge count (free to read off the checkpoint): near-dup pair graphs
    // are typically many orders of magnitude smaller than the corpus, and
    // scanning the tiny edge list with corpus-many tasks every round is
    // pure overhead. ~100k edges per partition, capped at the
    // checkpoint's own partition count, so at genuine billion-edge scale
    // this is a no-op. Reduce-side parallelism stays at
    // spark.sql.shuffle.partitions; AQE coalesces those post-shuffle.
    val parts = math.max(1L, math.min(
      symWide.rdd.getNumPartitions.toLong, symWide.count() / 100000L + 1L))
      .toInt
    // coalesce is a narrow view over the checkpointed blocks — no second
    // materialization; freeCheckpoint(sym) below still reaches the
    // underlying LogicalRDD through the Repartition node
    val sym =
      if (parts < symWide.rdd.getNumPartitions) symWide.coalesce(parts)
      else symWide
    // fused initialization: label₀ = min(id, min direct neighbor). One
    // groupBy over the edge list replaces BOTH the distinct() (the node set
    // is exactly the src side of the symmetrized edges) and the first
    // propagation round — for the common near-dup case (dense clusters,
    // diameter ≤ 2) the loop below then converges in a single fixpoint
    // check instead of three rounds of join+checkpoint
    var prev = TrackedCache.checkpointTracked(sym.groupBy(col("src"))
      .agg(min(col("dst")).as("__m"))
      .select(col("src").as("id"),
        least(col("src"), col("__m")).as("comp")))
    var iter = 0
    while (iter < maxIter) {
      val nbrMin = sym.join(prev, sym("dst") === prev("id"))
        .groupBy(sym("src").as("nid"))
        .agg(min(col("comp")).as("nbr_comp"))
      val next = TrackedCache.checkpointTracked(
        prev.join(nbrMin, prev("id") === col("nid"), "left")
          .select(col("id"),
            least(col("comp"), coalesce(col("nbr_comp"), col("comp")))
              .as("next_comp"), col("comp").as("prev_comp")))
      val changed = next.filter(col("next_comp") < col("prev_comp")).count()
      // the eager checkpoint of `next` severed its lineage from `prev`, so
      // the previous round's blocks can be freed NOW — without this, a
      // deep graph leaves one cached label frame per round until driver GC,
      // evicting other queries' hot cache in a long session
      TrackedCache.freeCheckpoint(prev)
      prev = next.select(col("id"), col("next_comp").as("comp"))
      if (changed == 0) {
        // the last join already ran (eager checkpoint)
        TrackedCache.freeCheckpoint(sym)
        // only the RESULT frame's blocks stay alive (freeing them would
        // drop its only copy) until the caller's unpersistAll
        return prev
      }
      iter += 1
    }
    throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIter rounds — graph " +
        "diameter exceeds the budget; raise maxIter explicitly")
  }

  /** Apply a clustering to the corpus: keep every document EXCEPT
    * non-canonical cluster members (the cluster minimum survives;
    * documents in no cluster were never duplicated and pass through).
    *
    * Shape: left_anti join against the drop list (|clustered docs| −
    * |clusters| rows — duplicates only). No forced broadcast hint: on a
    * lightly-duplicated corpus the drop list is tiny and AQE broadcasts
    * it (corpus unshuffled); on a heavily-duplicated web crawl (30-80%
    * dup rates are normal) it is corpus-scale and a forced broadcast
    * would OOM the driver — AQE picks the shuffled anti-join there. */
  def applyClusters(df: DataFrame, idCol: String,
                    clusters: DataFrame): DataFrame = {
    val drop = clusters.filter(col("id") =!= col("comp")).select(col("id"))
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** Quality-aware cluster application: keep the HIGHEST-SCORING member
    * of each near-dup cluster (ties to the smallest id), not the
    * arbitrary min-id representative [[applyClusters]] keeps. This is
    * what a production dedup actually wants — among near-duplicate page
    * versions, keep the longest / highest-quality one; min-id keeps
    * whichever crawled first.
    *
    * Shape: representative selection is ONE aggregate pass over the
    * cluster-member score join — `max(struct(score, ~id))` packs the
    * argmax and its deterministic tie-break into a single partial-
    * aggregable max, no window, no sort. The tie-break inverts the id
    * ordering with bitwise NOT (`~id = -id - 1`), a TOTAL order-reversing
    * bijection on long — unlike arithmetic negation, which overflows on
    * `Long.MinValue` under ANSI. The drop list then anti-joins
    * the corpus exactly as [[applyClusters]] (AQE broadcast when small,
    * shuffled anti-join on a heavily-duplicated crawl). */
  def applyClustersBest(df: DataFrame, idCol: String, clusters: DataFrame,
                        scoreCol: String): DataFrame = {
    val scored = clusters.join(
      df.select(col(idCol).cast("long").as("id"), col(scoreCol).as("__s")),
      Seq("id"))
    val reps = scored.groupBy(col("comp"))
      .agg(max(struct(col("__s").as("__s"), bitwise_not(col("id")).as("__ni")))
        .as("__m"))
      .select(bitwise_not(col("__m.__ni")).as("id"))
    val drop = clusters.select(col("id")).join(reps, Seq("id"), "left_anti")
    df.join(drop, df(idCol) === drop("id"), "left_anti")
  }

  /** Weighted PageRank over an edge list, bounded-iteration power method
    * in EXACT integer arithmetic: ranks live in `scale` fixed-point units,
    * the damping split is 85/100, and every division is integral — so any
    * engine replays the exact values and the output is certifiable, where
    * a floating-point power method diverges across engines in the last
    * bits. Each iteration is the canonical Spark iterative-join shape: the
    * rank vector equi-joins the (cached) out-weighted edge list, per-edge
    * contributions `pr·85·w div (100·outW)` partial-aggregate map-side,
    * and the teleport base `15·scale div (100·N)` re-seeds every node.
    *
    * Contract and bounds, loudly documented rather than silently wrong:
    * `scale · 85 · max(w)` must fit signed 64-bit (the default 1e9 scale
    * leaves room for edge weights to 1e8); dangling-node mass is DROPPED
    * by default, not redistributed (the usual simplification — both this
    * and any oracle must agree), with `redistributeDangling = true`
    * switching to the mass-conserving variant a general-graph user wants:
    * each iteration sums the rank sitting on out-degree-0 nodes (one
    * metadata-sized aggregate riding the same broadcast as N) and gives
    * every node its integral share `85·D div (100·N)` — same fixed-point
    * arithmetic, still engine-exact; iterations are capped, not
    * converged — rank ORDERING stabilizes in a few hops on
    * event-transition-sized graphs, and a fixed bound keeps the lineage
    * shallow (each round adds one join + one aggregate; no checkpoint
    * needed at ≤ 20 rounds). */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               wCol: String, iters: Int = 3,
               scale: Long = 1000000000L,
               redistributeDangling: Boolean = false): DataFrame = {
    require(iters >= 1 && iters <= 20,
      s"iters must be in [1,20], got $iters")
    require(scale >= 1000L, s"scale must be >= 1000, got $scale")
    val e0 = edges.select(col(srcCol).as("src"), col(dstCol).as("dst"),
      col(wCol).cast("long").as("w"))
    val nodes = TrackedCache.persistTracked(
      e0.select(col("src").as("node"))
        .union(e0.select(col("dst").as("node"))).distinct())
    val outw = e0.groupBy(col("src")).agg(sum(col("w")).as("outw"))
    val e = TrackedCache.persistTracked(e0.join(outw, Seq("src")))
    val n = nodes.agg(count(lit(1)).as("__n"))
    // pre-folded long literals: 15 * scale as two int literals would
    // overflow int32 under ANSI before ever reaching long arithmetic
    val teleportNum = 15L * scale
    var rank = nodes.crossJoin(broadcast(n))
      .select(col("node"), expr(s"${scale}L div __n").as("pr"))
    val srcNodes = outw.select(col("src").as("node"))
    for (_ <- 1 to iters) {
      val contrib = e
        .join(rank.select(col("node").as("src"), col("pr")), Seq("src"))
        .select(col("dst").as("node"),
          expr("(pr * 85 * w) div (100 * outw)").as("c"))
        .groupBy(col("node")).agg(sum(col("c")).as("cs"))
      val base = nodes.crossJoin(broadcast(n))
        .join(contrib, Seq("node"), "left")
      rank =
        if (!redistributeDangling)
          base.select(col("node"),
            (expr(s"${teleportNum}L div (100 * __n)") +
              coalesce(col("cs"), lit(0L))).as("pr"))
        else {
          // dangling mass D = rank on nodes with no out-edges; a 1-row
          // aggregate (anti-join against the out-degree table, sum),
          // broadcast alongside N. 85·D ≤ 85·scale·(1+ε) — no overflow
          // headroom cost beyond the documented scale bound.
          val dang = rank.join(srcNodes, Seq("node"), "left_anti")
            .agg(coalesce(sum(col("pr")), lit(0L)).as("__d"))
          base.crossJoin(broadcast(dang))
            .select(col("node"),
              (expr(s"${teleportNum}L div (100 * __n)") +
                expr("(__d * 85) div (100 * __n)") +
                coalesce(col("cs"), lit(0L))).as("pr"))
        }
    }
    rank
  }
}
