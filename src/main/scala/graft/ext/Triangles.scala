package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle enumeration — the graph-analytics primitive
  * behind clustering coefficients, community cohesion, and spam/bot ring
  * detection over interaction graphs.
  *
  * Algorithm: degree orientation + wedge join (the MapReduce scheme of
  * Suri & Vassilvitskii, "Counting triangles and the curse of the last
  * reducer", WWW 2011). Each undirected edge is oriented from its lower
  * endpoint to its higher endpoint in the total order (degree, id); every
  * triangle then has EXACTLY ONE vertex with out-edges to the other two,
  * so enumerating wedges (s→t1, s→t2) and closing them against the edge
  * set finds each triangle exactly once — no post-dedup needed.
  *
  * Why orientation matters at 100 TB: wedge count is Σ out-deg(v)², and
  * orienting by degree caps every out-degree at O(√m) — a star node with
  * a million neighbors contributes ZERO wedges (all its edges point
  * outward-by-degree toward it... i.e. it is always the wedge tip, never
  * the center), where the naive per-node neighbor-pair join would
  * explode quadratically on exactly that node. This is the
  * "curse of the last reducer" fix.
  *
  * Plan shape: three equi-joins (degree attach ×2, wedge self-join,
  * closing-edge probe), all on key columns — no cartesian, no OR-join
  * (the closing edge is probed through an id-normalized copy of the
  * oriented set precisely so the match is a single conjunctive key).
  */
object Triangles {

  /** Canonical triangle list (a < b < c by node id), one row per
    * triangle, from an undirected edge list given as (srcCol, dstCol)
    * rows in either orientation (duplicates and self-loops tolerated —
    * normalized away first). */
  def triangles(edges: DataFrame, srcCol: String, dstCol: String,
                maxBroadcastEdges: Long = 5000000L): DataFrame = {
    // normalize: simple undirected graph as id-ordered distinct pairs.
    // PERSISTED (TrackedCache lifecycle, released by the harness's
    // per-query unpersistAll): e feeds the degree union twice and the
    // orientation join once — unpersisted, the whole upstream edge
    // derivation (itself a self-join) would replicate into every use
    // (observed: 60 parquet scans in the co-activity plan).
    val e = TrackedCache.persistTracked(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct())
    val deg = e.select(col("u").as("n"))
      .unionAll(e.select(col("v").as("n")))
      .groupBy(col("n")).agg(count(lit(1)).as("d"))
    // orient lower (deg, id) -> higher (deg, id); struct comparison is
    // lexicographic on both engines, and id breaks every degree tie.
    // Persisted: o is the wedge join's BOTH sides plus the closing-edge
    // probe — three consumers of one oriented edge set.
    val o = TrackedCache.persistTracked(e
      .join(deg.select(col("n").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("n").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("u")).otherwise(col("v")).as("s"),
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          col("v")).otherwise(col("u")).as("t")))
    // wedges at each center s, ordered by id so each pair appears once
    val w = o.as("w1").join(o.as("w2"),
        col("w1.s") === col("w2.s") && col("w1.t") < col("w2.t"))
      .select(col("w1.s").as("s"), col("w1.t").as("t1"), col("w2.t").as("t2"))
    // the closing edge probed through an ID-normalized copy: (t1, t2) is
    // id-ordered, so one conjunctive equi-join closes the wedge whatever
    // the closing edge's degree orientation was. The wedge side is the
    // BIG side (Σ out-deg² ≫ m), so when the edge set itself is
    // broadcast-sized we ship IT and never shuffle-sort a single wedge —
    // the count is free off the persisted frame (and materializes the
    // cache before the multi-consumer plan runs). Above the cap the join
    // falls back to the shuffle plan automatically.
    val edgeCount = e.count()
    val cNorm = o.select(least(col("s"), col("t")).as("x"),
      greatest(col("s"), col("t")).as("y"))
    val cSide = if (edgeCount <= maxBroadcastEdges) broadcast(cNorm) else cNorm
    w.join(cSide, col("t1") === col("x") && col("t2") === col("y"))
      .select(sort_array(array(col("s"), col("t1"), col("t2"))).as("tri"))
      .select(col("tri").getItem(0).as("a"), col("tri").getItem(1).as("b"),
        col("tri").getItem(2).as("c"))
  }

  /** Local clustering coefficients — per node, how close its
    * neighborhood is to a clique: `2·T(v) / (deg(v)·(deg(v)−1))` with
    * T(v) the triangles through v. The community-structure microscope
    * (and the Watts–Strogatz small-world statistic), computed here as a
    * composition: the certified triangle list explodes into per-vertex
    * participation counts, joins degrees, and the ratio is pure integer
    * (`(20000·T) div (d·(d−1))`, a 1e-4 quantization) so any engine
    * replays it. Degree-1 nodes have no defined coefficient → NULL.
    * Cost = the triangle enumeration plus one explode + two metadata-
    * sized aggregates. */
  def clusteringCoefficients(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame = {
    // persisted: the triangle enumeration AND the degree frame both
    // consume the raw edge list — without this the upstream edge
    // derivation (a self-join for co-activity graphs) runs twice
    val eIn = TrackedCache.persistTracked(edges)
    val tri = triangles(eIn, srcCol, dstCol)
    val e = eIn
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct()
    val deg = e.select(col("u").as("node")).unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    val triCnt = tri
      .select(explode(array(col("a"), col("b"), col("c"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
    deg.join(triCnt, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("tri_cnt"), lit(0L)).as("tri_cnt"),
        when(col("degree") >= 2,
          expr("(20000 * coalesce(tri_cnt, 0L)) div (degree * (degree - 1))"))
          .as("coeff_e4"))
  }

  /** k-core decomposition by iterative peeling: repeatedly delete every
    * node with (current) degree < k until none remains — the standard
    * "dense engagement core" / collusion-ring primitive (a node survives
    * only if k of its neighbors ALSO survive, which no single-pass
    * degree filter can express).
    *
    * Each round is one degree aggregate + two semi-join filters on the
    * node key — no cartesian, no driver-side graph; the surviving edge
    * set and each round's degree frame are EAGER tracked checkpoints
    * ([[TrackedCache.checkpointTracked]]), so lineage stays flat, and the
    * previous round's checkpoint is freed via
    * [[TrackedCache.freeCheckpoint]] once the next one is materialized
    * — the [[Components.connectedComponents]] iteration discipline.
    * Convergence within `maxRounds` is REQUIRED loudly: peeling removes
    * at least one node per non-final round, so rounds are bounded by the
    * peel depth, not |V| — certified queries pick a bound their oracle
    * unrolls (extra unrolled rounds are no-ops once the fixpoint is
    * reached, so oracle and engine agree exactly).
    *
    * Output: surviving nodes with their in-core degree. */
  def kCore(edges: DataFrame, srcCol: String, dstCol: String, k: Int,
            maxRounds: Int = 20): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    var e = TrackedCache.persistTracked(edges
      .select(least(col(srcCol), col(dstCol)).as("u"),
        greatest(col(srcCol), col(dstCol)).as("v"))
      .where(col("u").isNotNull && col("v").isNotNull && col("u") =!= col("v"))
      .distinct())
    // per-round frames are EAGER localCheckpoints, not persists (the
    // [[Components.connectedComponents]] iteration discipline): the
    // degree frame is read three times per round (the convergence action
    // plus both semi-join filters) and the surviving edge set feeds the
    // next round, and a checkpoint is a LEAF plan — per-round nested
    // caches made round r's plan embed round r-1's and the rendered plan
    // string grew exponentially with peel depth (OOM at depth ~20).
    // Previous rounds' blocks are freed as soon as the round that read
    // them is materialized; the final degree frame's blocks, and a
    // failed run's, are released by the caller's unpersistAll (the
    // connectedComponents contract).
    var eOwned: DataFrame = null
    var deg: DataFrame = null
    var converged = false
    var r = 0
    // AT MOST maxRounds peels, with the convergence CHECK allowed once
    // more after the last: a certified query's oracle unrolls exactly
    // maxRounds no-op-tolerant rounds, so the engine must reach (and
    // verify) the fixpoint within that many peels, never peel past it
    while (!converged && r <= maxRounds) {
      val degNew = TrackedCache.checkpointTracked(
        e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
          .groupBy(col("n")).agg(count(lit(1)).as("d")))
      if (deg != null) TrackedCache.freeCheckpoint(deg)
      deg = degNew
      val keep = deg.filter(col("d") >= k).select(col("n"))
      // one action decides convergence: count the DROP side directly
      if (deg.filter(col("d") < k).limit(1).count() == 0L) converged = true
      else if (r == maxRounds) r += 1 // budget exhausted: fail below
      else {
        val eNew = TrackedCache.checkpointTracked(e
          .join(keep.select(col("n").as("u")), Seq("u"), "left_semi")
          .join(keep.select(col("n").as("v")), Seq("v"), "left_semi"))
        if (eOwned != null) TrackedCache.freeCheckpoint(eOwned)
        eOwned = eNew
        e = eNew
        r += 1
      }
    }
    if (!converged)
      throw new IllegalArgumentException(
        s"requirement failed: kCore(k=$k) did not converge within " +
          s"$maxRounds rounds — raise maxRounds (and the oracle's " +
          "unroll) together")
    // the converged round's degree frame IS the answer: convergence
    // means every surviving node already has d >= k, and deg is
    // materialized — the final union+aggregate recompute is redundant
    if (eOwned != null) TrackedCache.freeCheckpoint(eOwned)
    deg.select(col("n").as("node"), col("d").as("core_deg"))
  }

  /** Co-activity edges: users active within the same time bucket. The
    * self-join is per-bucket quadratic, so a loud guard measures the
    * largest bucket FIRST and refuses over-budget graphs (the
    * jaccardPairs discipline) — at corpus scale a global minute bucket
    * needs a finer key (minute × shard) or a df-cut, both policy choices
    * the caller makes consciously, not an operator that silently
    * cartesians. */
  def coActivityEdges(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts",
                      maxBucketUsers: Long = 10000L): DataFrame = {
    val grp = bucketUsers(events, userCol, tsCol)
    // Default cap 10k ≈ 5×10⁷ pairs from the worst bucket — survivable
    // on one task. (The old 100k default admitted ~5×10⁹ pairs before
    // "guarding": a cap that fires only after the blowup it exists to
    // prevent has been paid is no cap.) Raise it deliberately, or use
    // [[coActivityEdgesSharded]] — the 100× formulation that splits each
    // bucket's quadratic work across shard-pair tasks.
    pairJoinEdges(grp, worstBucket(grp), maxBucketUsers)
  }

  /** The shared distinct (minute-bucket, uid) frame — persisted: the
    * guard action plus both sides of the pair join read it (TrackedCache
    * lifecycle). Extracted so [[coActivityEdgesAuto]] builds it ONCE and
    * hands it to the chosen arm instead of each arm re-deriving and
    * re-persisting an identical copy (measured: three ~0.4 s distinct
    * jobs per declared graph query before the share). */
  private def bucketUsers(events: DataFrame, userCol: String,
                          tsCol: String): DataFrame =
    TrackedCache.persistTracked(events
      .where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(date_trunc("minute", col(tsCol)).as("b0"),
        col(userCol).as("uid"))
      .distinct())

  /** One metadata-sized action: the largest bucket's user count.
    * coalesce: max() over ZERO buckets is NULL, and an empty events
    * frame must yield an empty edge list, not an NPE in the guard. */
  private def worstBucket(grp: DataFrame): Long =
    grp.groupBy(col("b0")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L))).head().getLong(0)

  /** The under-cap arm's per-bucket pair join over an already-prepared
    * `grp`, with the guard evaluated on the already-measured `worst`. */
  private def pairJoinEdges(grp: DataFrame, worst: Long,
                            maxBucketUsers: Long): DataFrame = {
    require(worst <= maxBucketUsers,
      s"coActivityEdges: largest bucket holds $worst users (cap " +
        s"$maxBucketUsers) — the pair join would blow up; use " +
        "coActivityEdgesSharded, shard the bucket key, or raise the cap " +
        "deliberately")
    grp.as("a").join(grp.as("b"),
        col("a.b0") === col("b.b0") && col("a.uid") < col("b.uid"))
      .select(col("a.uid").as("src"), col("b.uid").as("dst"))
      .distinct()
  }

  /** Sharded co-activity edges — the 100-TB formulation of
    * [[coActivityEdges]]. Same output edge set, but each time bucket's
    * quadratic pair work is split across `shards·(shards+1)/2` shard-pair
    * tasks instead of landing on one reducer.
    *
    * Scheme (the classic all-pairs "triangle partitioning"): assign each
    * user a shard `s = hash(uid) mod S`; a pair (u, v) with shards (i, j),
    * i ≤ j, is produced by EXACTLY ONE join group keyed (bucket, i, j) —
    * the left side replicates each row to groups (s, j) for j ≥ s, the
    * right side to (i, s) for i ≤ s, so group (i, j) holds shard-i users
    * on the left and shard-j users on the right. Replication is S+1
    * copies per row (linear wire cost) in exchange for per-task pair
    * count dropping from |bucket|² to (|bucket|/S)² — the shuffle key
    * (b0, i, j) is exactly the "minute × shard" key the single-reducer
    * guard tells you to reach for.
    *
    * Same-shard groups (i = j) hold the shard on both sides and keep
    * pairs by `uid_a < uid_b`; cross-shard groups keep every (left,
    * right) pair — each once, then id-normalized so the output matches
    * [[coActivityEdges]] exactly (property-tested equivalence,
    * `TrianglesSpec`). */
  def coActivityEdgesSharded(events: DataFrame, userCol: String = "user_id",
                             tsCol: String = "ts", shards: Int = 16,
                             maxTaskPairs: Long = 50000000L): DataFrame = {
    require(shards >= 1, s"shards must be >= 1, got $shards")
    val grp = bucketUsers(events, userCol, tsCol)
    shardedEdges(grp, worstBucket(grp), shards, maxTaskPairs)
  }

  /** The over-cap arm's triangle-partitioned join over an
    * already-prepared `grp` (shard column added here — a projection over
    * the cached frame, no second distinct/persist). */
  private def shardedEdges(grp0: DataFrame, worst: Long, shards: Int,
                           maxTaskPairs: Long): DataFrame = {
    val grp = grp0.withColumn("s", pmod(hash(col("uid")), lit(shards)))
    // guard on the PER-TASK pair count (worst bucket / S)² — the quantity
    // sharding actually bounds
    val perShard = (worst + shards - 1) / shards.toLong
    require(perShard * perShard <= maxTaskPairs,
      s"coActivityEdgesSharded: worst bucket $worst over $shards shards " +
        s"is ~${perShard * perShard} pairs per task (cap $maxTaskPairs) " +
        "— raise shards")
    val left = grp.withColumn("j",
      explode(sequence(col("s"), lit(shards - 1))))
    val right = grp.withColumn("i",
      explode(sequence(lit(0), col("s"))))
    left.as("a").join(right.as("b"),
        col("a.b0") === col("b.b0") &&
          col("a.s") === col("b.i") && col("a.j") === col("b.s") &&
          (col("a.s") =!= col("b.s") || col("a.uid") < col("b.uid")))
      .select(least(col("a.uid"), col("b.uid")).as("src"),
        greatest(col("a.uid"), col("b.uid")).as("dst"))
      .distinct()
  }

  /** Measure-then-route co-activity edges — the [[graft.plans.AsOfPhys]]
    * `asofJoinAuto` discipline applied to the edge builder: ONE cheap
    * metadata-sized action measures the worst bucket (the same aggregate
    * both arms already run as their guard), then the plain per-bucket
    * pair join ([[coActivityEdges]]) serves graphs under the cap and the
    * sharded triangle-partitioned formulation ([[coActivityEdgesSharded]],
    * property-tested output-identical) serves graphs over it. At 100×
    * data the DECLARED graph queries switch plans instead of refusing on
    * the cap — the guard's measurement becomes the router's decision.
    *
    * The distinct (bucket, uid) frame is built ONCE and persisted; the
    * measurement and the chosen arm's join consume the SAME frame and
    * the SAME measured value — no re-derivation, no second persist, no
    * repeated guard aggregate.
    *
    * `shards` sizes the over-cap arm so its per-task pair count is
    * ~(worst/shards)²; the default 16 turns a 10×-the-cap bucket (100k
    * users ≈ 5×10⁹ pairs) into ~4×10⁷ pairs per shard-pair task across
    * 136 tasks. The sharded arm's own guard still refuses graphs the
    * shard count cannot absorb — raise `shards` deliberately there. */
  def coActivityEdgesAuto(events: DataFrame, userCol: String = "user_id",
                          tsCol: String = "ts",
                          maxBucketUsers: Long = 10000L,
                          shards: Int = 16): DataFrame = {
    val grp = bucketUsers(events, userCol, tsCol)
    val worst = worstBucket(grp)
    // the measurement IS the router's decision, and the measured frame
    // IS the arm's input: one distinct, one persist, one guard action —
    // the arms consume (grp, worst) directly instead of re-deriving an
    // identical cached copy and re-running the identical aggregate
    if (worst <= maxBucketUsers) pairJoinEdges(grp, worst, maxBucketUsers)
    else shardedEdges(grp, worst, shards, maxTaskPairs = 50000000L)
  }
}
