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
  *
  * Input graphs: [[coActivityEdges]] is the one co-activity edge
  * builder. It splits each time bucket's quadratic pair work with the
  * same paper's shard-partitioning scheme, at a shard count S derived
  * from the measured worst bucket; S = 1 is the per-bucket pair join.
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

  /** Co-activity edges: users active within the same minute bucket, as
    * id-ordered (src, dst) pairs. One measured, triangle-partitioned
    * self-join over the persisted distinct (bucket, uid) frame.
    *
    * Scheme (the all-pairs "triangle partitioning"): each user gets a
    * shard `s = hash(uid) mod S`, and a pair (u, v) with shards (i, j),
    * i ≤ j, is produced by EXACTLY ONE join group keyed (bucket, i, j) —
    * the left side replicates each row to groups (s, j) for j ≥ s, the
    * right side to (i, s) for i ≤ s. Same-shard groups keep pairs by
    * `uid_a < uid_b`; cross-shard groups keep every pair, id-normalized.
    * Replication is S+1 copies per row, and a task's pair count drops
    * from |bucket|² to ⌈|bucket|/S⌉².
    *
    * S is derived from ONE metadata-sized action, the largest bucket's
    * user count: the smallest S ≥ `minShards` with ⌈worst/S⌉² ≤
    * `maxTaskPairs` ([[shardCount]]). At S = 1 the shard is 0, each
    * explode yields one row, and the join is the plain per-bucket pair
    * join on `a.b0 = b.b0 AND a.uid < b.uid`. A bucket that would need
    * more than 16 shards is refused loudly: at corpus scale that needs
    * a finer bucket key or a df-cut, a policy choice the caller makes. */
  def coActivityEdges(events: DataFrame, userCol: String = "user_id",
                      tsCol: String = "ts", minShards: Int = 1,
                      maxTaskPairs: Long = 50000000L): DataFrame = {
    // persisted: the worst-bucket action and both join sides read it
    // (TrackedCache lifecycle)
    val grp0 = TrackedCache.persistTracked(events
      .where(col(userCol).isNotNull && col(tsCol).isNotNull)
      .select(date_trunc("minute", col(tsCol)).as("b0"),
        col(userCol).as("uid"))
      .distinct())
    // coalesce: max() over ZERO buckets is NULL, and an empty events
    // frame must yield an empty edge list
    val worst = grp0.groupBy(col("b0")).agg(count(lit(1)).as("c"))
      .agg(coalesce(max(col("c")), lit(0L))).head().getLong(0)
    val n = shardCount(worst, minShards, maxTaskPairs)
    val grp = grp0.withColumn("s", pmod(hash(col("uid")), lit(n)))
    val left = grp.withColumn("j",
      explode(sequence(col("s"), lit(n - 1))))
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

  /** The most shards a bucket may need: 16 × ⌊√5·10⁷⌋ = 113 136 users in
    * one minute bucket at the default `maxTaskPairs`. */
  private val MaxShards = 16L

  /** The smallest S ≥ `minShards` with ⌈worst/S⌉² ≤ `maxTaskPairs`:
    * max(`minShards`, ⌈worst / ⌊√maxTaskPairs⌋⌉). Refuses when the
    * bucket alone needs more than [[MaxShards]]; a larger `minShards` is
    * the caller's own choice and only adds replication. */
  private[graft] def shardCount(worst: Long, minShards: Int,
                                maxTaskPairs: Long): Int = {
    require(minShards >= 1, s"minShards must be >= 1, got $minShards")
    require(maxTaskPairs >= 1L, s"maxTaskPairs must be >= 1, got $maxTaskPairs")
    val side = java.math.BigInteger.valueOf(maxTaskPairs).sqrt().longValue
    val needed = if (worst == 0L) 0L else (worst - 1) / side + 1
    require(needed <= MaxShards,
      s"coActivityEdges: largest bucket holds $worst users, which needs " +
        s"$needed shards of at most $side users (cap $MaxShards shards, " +
        s"$maxTaskPairs pairs per task) — use a finer bucket key or cut " +
        "the users first")
    math.max(minShards.toLong, needed).toInt
  }
}
