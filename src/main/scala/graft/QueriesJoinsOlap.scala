package graft

import graft.compile.NlCompiler
import graft.exec.Executor
import graft.ext.{Dedup, Events, Multimodal, Similarity, TextStats}
import graft.ir.MongoJson
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import EntryHelpers._

/** Join strategies (as-of, salted, bucketed, bloom, range), OLAP aggregates/windows/set ops, and event graph analytics.
  *
  * One of six per-domain registries merged by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]] — pure relocation of the former monolithic
  * maps, no behavior change (43 entries incl. the round-12 graph/resample/wmedian/native-HLL paths). */
private[graft] object QueriesJoinsOlap {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "join_enrich" -> ((s: SparkSession, dir: String) =>
      Events.enrichCustomer(Tables.customer(s, dir), Tables.nation(s, dir),
          Tables.region(s, dir))
        .orderBy("c_custkey")),
    // TPC-H-Q5-shaped: two big-to-big shuffle joins + a broadcast dim,
    // revenue quantized per row so the sum is exact (Events scaladoc)
    "join_multiway" -> ((s: SparkSession, dir: String) =>
      Events.revenueByNation(Tables.lineitem(s, dir), Tables.orders(s, dir),
          Tables.customer(s, dir), Tables.nation(s, dir))
        .orderBy("n_name")),
    // cohort retention triangle over the event stream (distinct daily
    // activity first; cells need no count-distinct after it)
    "events_retention" -> ((s: SparkSession, dir: String) =>
      Events.retention(Tables.events(s, dir), "user_id", "ts")
        .orderBy("cohort_day", "day_offset")),
    // first-order Markov transition matrix over per-user event sequences
    "events_transitions" -> ((s: SparkSession, dir: String) =>
      Events.transitions(Tables.events(s, dir))
        .orderBy("prev_type", "next_type")),
    // ----- integer-exact weighted PageRank over the transition graph
    // (Components.pageRank scaladoc: fixed-point 85/100 damping, the
    // iterative rank-vector × edge-list join, certifiable where float
    // power methods aren't) -----
    "events_pagerank" -> ((s: SparkSession, dir: String) =>
      graft.ext.Components.pageRank(
          Events.transitions(Tables.events(s, dir)),
          "prev_type", "next_type", "n", iters = 3)
        .orderBy("node")),
    // ----- triangle enumeration over the user co-activity graph via
    // degree orientation + wedge join (Triangles scaladoc: Suri &
    // Vassilvitskii's last-reducer fix — every out-degree capped at
    // O(sqrt(m)), three equi-joins, no OR-join, no cartesian). The edge
    // builder derives its shard count from the measured worst bucket;
    // the fixtures' buckets need one shard, the per-bucket pair join -----
    "graph_triangles" -> ((s: SparkSession, dir: String) =>
      graft.ext.Triangles.triangles(
          graft.ext.Triangles.coActivityEdges(Tables.events(s, dir)),
          "src", "dst")
        .orderBy("a", "b", "c")),
    // ----- the multi-shard plan certified end to end: minShards = 4
    // splits every bucket over 4 shards, so the triangle list is computed
    // over the shard-pair join groups (path-asserted in TrianglesSpec:
    // the plan carries the shard explode) — same oracle as
    // graph_triangles, two shard counts, one answer. 4, not 16: the path
    // is the same at any S > 1, and S+1 replication stays at 5x -----
    "graph_triangles_sharded" -> ((s: SparkSession, dir: String) =>
      graft.ext.Triangles.triangles(
          graft.ext.Triangles.coActivityEdges(Tables.events(s, dir),
            minShards = 4),
          "src", "dst")
        .orderBy("a", "b", "c")),
    // ----- local clustering coefficients over the same graph: per-node
    // triangle participation vs (deg choose 2), 1e-4 integer rational,
    // NULL for degree-1 nodes (Triangles.clusteringCoefficients) -----
    "graph_clustering" -> ((s: SparkSession, dir: String) =>
      graft.ext.Triangles.clusteringCoefficients(
          graft.ext.Triangles.coActivityEdges(Tables.events(s, dir)),
          "src", "dst")
        .orderBy("node")),
    // ----- k-core of the same co-activity graph: iterative peeling
    // (deg < 8 nodes deleted until fixpoint — a node survives only if 8
    // neighbors survive, beyond any single-pass filter; Triangles.kCore
    // scaladoc); 6 rounds cover the fixture's peel depth at both SFs,
    // and the oracle unrolls exactly those 6 no-op-tolerant rounds -----
    "graph_kcore" -> ((s: SparkSession, dir: String) =>
      graft.ext.Triangles.kCore(
          graft.ext.Triangles.coActivityEdges(Tables.events(s, dir)),
          "src", "dst", k = 8, maxRounds = 6)
        .orderBy("node")),
    // ----- hourly resample with explicit gap rows: zero counts, NULL
    // (unobserved) sums, forward-filled gauge — grid generation is
    // distributed sequence+explode under a loud row budget (Resample
    // scaladoc) -----
    "ts_resample" -> ((s: SparkSession, dir: String) =>
      graft.ext.Resample.hourlyGapFill(Tables.events(s, dir))
        .orderBy("event_type", "hour")),
    // ----- per-user inter-arrival gap stats (Events.interArrival
    // scaladoc: exact integer micros, lag window + groupBy share the
    // user_id partitioning — one shuffle total) -----
    "events_interarrival" -> ((s: SparkSession, dir: String) =>
      Events.interArrival(Tables.events(s, dir))
        .orderBy("user_id")),
    // ----- hour-over-hour growth per type: lag over the AGGREGATED
    // hourly frame, first hours keep null delta/pct -----
    "events_growth" -> ((s: SparkSession, dir: String) =>
      Events.hourlyGrowth(Tables.events(s, dir))
        .orderBy("event_type", "hour")),
    // ----- new-vs-returning daily split over the distinct activity
    // frame (Events.newVsReturning scaladoc) -----
    "events_newusers" -> ((s: SparkSession, dir: String) =>
      Events.newVsReturning(Tables.events(s, dir))
        .orderBy("day")),
    // ----- cumulative-user growth curve via the first-seen trick
    // (Events.cumulativeUsers scaladoc: no running count DISTINCT) -----
    "events_cumusers" -> ((s: SparkSession, dir: String) =>
      Events.cumulativeUsers(Tables.events(s, dir))
        .orderBy("day")),
    // ----- DAU / trailing-7-day-MAU stickiness via bounded contribution
    // explode (Events.stickiness scaladoc: exact rolling distinct with
    // no rolling state) -----
    "events_stickiness" -> ((s: SparkSession, dir: String) =>
      Events.stickiness(Tables.events(s, dir), windowDays = 7)
        .orderBy("day")),
    "join_revenue" -> ((s: SparkSession, dir: String) =>
      Events.revenueBySegment(Tables.orders(s, dir), Tables.customer(s, dir))
        .orderBy("c_mktsegment")),
    // the same aggregate through the SALTED shuffle join (Skew.saltedJoin):
    // salting splits hot keys across reducers without changing matches —
    // certified here by hash-matching the identical oracle as join_revenue
    "join_salted" -> ((s: SparkSession, dir: String) =>
      graft.ext.Skew.saltedJoin(
          Tables.orders(s, dir),
          Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
          "o_custkey", "c_custkey", "o_orderkey", buckets = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy("c_mktsegment")),
    // the same aggregate through the BUCKETED co-located join: both sides
    // are written bucketed+sorted by the join key (the one-time layout
    // cost), then the equi-join reads the buckets directly — NO shuffle on
    // either side at any scale (plan-asserted in BucketingSpec); certified
    // by hash-matching the identical oracle as join_revenue
    "join_bucketed" -> ((s: SparkSession, dir: String) => {
      val tmp = scratchDir("graft-join-bkt")
      graft.sources.Bucketing.writeBucketed(
        Tables.orders(s, dir).select(col("o_custkey"), col("o_totalprice")),
        "graft_bkt_orders", s"$tmp/orders", "o_custkey", buckets = 8)
      graft.sources.Bucketing.writeBucketed(
        Tables.customer(s, dir).select(col("c_custkey"), col("c_mktsegment")),
        "graft_bkt_customer", s"$tmp/customer", "c_custkey", buckets = 8)
      graft.sources.Bucketing.colocatedJoin(s,
          "graft_bkt_orders", "graft_bkt_customer", "o_custkey", "c_custkey")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast("decimal(18,2)")).cast("double")
            .as("revenue"))
        .orderBy("c_mktsegment")
    }),
    // the same join through an explicit BLOOM runtime filter: the selective
    // part dim (p_size = 1) folds into an 8 KiB bit set and the lineitem
    // scan keeps only probe survivors before the join shuffle — the exact
    // join after the prune makes the result identical to the plain join,
    // so the oracle is ordinary SQL (Bloom scaladoc has the FP/no-FN math)
    "join_bloom" -> ((s: SparkSession, dir: String) =>
      graft.ext.Bloom.bloomPrunedJoin(
          Tables.lineitem(s, dir).select(col("l_partkey"),
            col("l_extendedprice"), col("l_discount")),
          Tables.part(s, dir).filter(col("p_size") === 1)
            .select(col("p_partkey"), col("p_brand")),
          "l_partkey", "p_partkey")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n_items"),
          (sum(floor(col("l_extendedprice") * (lit(1d) - col("l_discount"))
              * 1e4 + 0.5).cast("long")).cast("double") / 1e4).as("revenue"))
        .orderBy("p_brand")),
    // ----- multi-level OLAP aggregation (Olap scaladoc: one Expand +
    // one shuffle per report, exact quantized money sums) -----
    "agg_rollup" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.rollupStats(Tables.orders(s, dir),
          Seq("o_orderstatus", "o_orderpriority"), "o_totalprice")
        // gid leads the sort so grouping-introduced NULLs (constant within
        // a gid) never decide row order; genuine data NULLs in a dimension
        // still could, so the oracle pins NULLS FIRST to Spark's asc order
        .orderBy("gid", "o_orderstatus", "o_orderpriority")),
    // ----- explicit GROUPING SETS: exactly the requested subtotals —
    // "(priority) but not ()" — which neither rollup nor cube can say
    // without waste (Olap.groupingSetsStats scaladoc) -----
    "agg_groupingsets" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.groupingSetsStats(Tables.orders(s, dir),
          Seq(Seq("o_orderstatus", "o_orderpriority"), Seq("o_orderstatus"),
            Seq("o_orderpriority")),
          Seq("o_orderstatus", "o_orderpriority"), "o_totalprice")
        .orderBy("gid", "o_orderstatus", "o_orderpriority")),
    "agg_cube" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.cubeStats(Tables.lineitem(s, dir),
          Seq("l_returnflag", "l_linestatus"), "l_quantity")
        .orderBy("gid", "l_returnflag", "l_linestatus")),
    "agg_pivot" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.pivotCounts(Tables.orders(s, dir),
          "o_orderpriority", "o_orderstatus", Seq("F", "O", "P"))
        .orderBy("o_orderpriority")),
    "agg_distinct" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.distinctCounts(Tables.events(s, dir),
          "event_type", "user_id")
        .orderBy("event_type")),
    // ----- per-customer first/latest order via one-pass min_by/max_by
    // with a total ordering key (Olap.argExtremes scaladoc: no window
    // sort exchange, one partial-aggregated shuffle) -----
    "agg_argmax" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.argExtremes(Tables.orders(s, dir),
          "o_custkey", "o_orderkey", "o_orderdate")
        .orderBy("o_custkey")),
    // ----- bounded ordered string agg: 3 lexicographically-first
    // customer names per segment (Olap.topKStringAgg scaladoc:
    // WindowGroupLimit prunes to k per map partition) -----
    "agg_stringagg" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.topKStringAgg(Tables.customer(s, dir),
          "c_mktsegment", "c_name", k = 3)
        .orderBy("c_mktsegment")),
    // ----- exact moment-sum mean/variance per type (Olap.momentStats
    // scaladoc: decimal(38,0) moments, one division per statistic) -----
    "agg_varstats" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.momentStats(Tables.events(s, dir),
          "event_type", "value")
        .orderBy("event_type")),
    // ----- per-group mode with deterministic tie-break (Olap.modeStats
    // scaladoc: counts first, WindowGroupLimit rank) -----
    "agg_mode" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.modeStats(Tables.customer(s, dir),
          "c_nationkey", "c_mktsegment")
        .orderBy("c_nationkey")),
    // ----- volume-weighted median price per return flag: smallest cent
    // value whose cumulative quantity reaches half the total (exact
    // lower-median rule, no interpolation — Olap.weightedMedian
    // scaladoc) -----
    "agg_wmedian" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.weightedMedian(Tables.lineitem(s, dir),
          "l_returnflag", "l_extendedprice", "l_quantity")
        .orderBy("l_returnflag")),
    // ----- exact co-moment Pearson correlation (Olap.corrStats
    // scaladoc: decimal moments, two sqrts + one division) -----
    "agg_corr" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.corrStats(Tables.lineitem(s, dir), "l_returnflag",
          "l_quantity", "l_extendedprice")
        .orderBy("l_returnflag")),
    // ----- incremental aggregate maintenance: disjoint slice states
    // merged by addition == the full recompute (Olap.momentState
    // scaladoc) — certified against the very same full-scan oracle -----
    "ops_incragg" -> ((s: SparkSession, dir: String) => {
      val ev = Tables.events(s, dir)
      val oldState = graft.ext.Olap.momentState(
        ev.filter(col("event_id") % 2 === 0), "event_type", "value")
      val delta = graft.ext.Olap.momentState(
        ev.filter(col("event_id") % 2 =!= 0), "event_type", "value")
      graft.ext.Olap.finalizeMoments(
          graft.ext.Olap.mergeMomentStates(Seq(oldState, delta),
            "event_type"), "event_type")
        .orderBy("event_type")
    }),
    // oracle-certified HyperLogLog (Hll scaladoc: every register and the
    // harmonic sum are exact integers; DuckDB replays the sketch
    // bit-for-bit — approx_count_distinct could never be certified)
    "agg_hll" -> ((s: SparkSession, dir: String) =>
      graft.ext.Hll.distinctEstimate(Tables.events(s, dir),
          "event_type", "user_id")
        .orderBy("event_type")),
    // the SAME sketch as a native TypedImperativeAggregate (functions/
    // HllAggregate.scala): one 64-byte buffer per group partial-agged
    // map-side, bytewise-max merge, no register frame materialized —
    // two execution strategies certified against ONE oracle bit-for-bit
    "agg_hll_native" -> ((s: SparkSession, dir: String) =>
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(graft.functions.HllFunctions.hll_sketch(col("user_id"))
          .as("__s"))
        .select(col("event_type"), col("__s.n_regs").as("n_regs"),
          col("__s.isum").as("isum"),
          col("__s.hll_estimate").as("hll_estimate"))
        .orderBy("event_type")),
    // the native aggregate through the registered SQL surface: the
    // analyzer wraps the returned AggregateFunction like any built-in,
    // and the driver gate certifies the registry path end-to-end
    "agg_hll_sql" -> ((s: SparkSession, dir: String) => {
      GraftExtensions.register(s)
      Tables.events(s, dir).createOrReplaceTempView("graft_events_hll")
      s.sql(
        """SELECT event_type, __s.n_regs AS n_regs, __s.isum AS isum,
          |  __s.hll_estimate AS hll_estimate
          |FROM (SELECT event_type, hll_sketch(user_id) AS __s
          |      FROM graft_events_hll GROUP BY event_type)
          |ORDER BY event_type""".stripMargin)
    }),
    // the union path: sketch two disjoint halves of events independently,
    // max-merge the register states, finalize. The halves partition the
    // table, so the merged state must equal the direct sketch — the oracle
    // (shared with agg_hll) sketches the un-split table and the hashes
    // must match bit-for-bit. This is the shard/day/source merge pattern
    // that makes the sketch usable as persisted infrastructure at 100 TB
    "agg_hll_union" -> ((s: SparkSession, dir: String) => {
      val ev = Tables.events(s, dir)
      val a = graft.ext.Hll.registers(
        ev.filter(col("event_id") % 2 === 0), "event_type", "user_id")
      val b = graft.ext.Hll.registers(
        ev.filter(col("event_id") % 2 === 1), "event_type", "user_id")
      graft.ext.Hll.finalize(graft.ext.Hll.merge(a, b), "event_type")
        .orderBy("event_type")
    }),
    // HLL set-intersection by inclusion–exclusion (Hll.intersectEstimate
    // scaladoc: sketch once, then the audience-overlap matrix runs on
    // register states alone — ≤ m rows per group whatever the corpus)
    "agg_hll_intersect" -> ((s: SparkSession, dir: String) =>
      graft.ext.Hll.intersectEstimate(Tables.events(s, dir),
          "event_type", "user_id")
        .orderBy("grp_a", "grp_b")),
    // ----- window analytics: running totals and per-group top-n -----
    "window_running" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.runningTotal(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
            col("o_orderdate"), col("o_totalprice")),
          "o_custkey", "o_orderdate", "o_orderkey", "o_totalprice")
        .select(col("o_custkey"), col("o_orderkey"), col("running_total"))
        .orderBy("o_custkey", "o_orderkey")),
    "agg_topn" -> ((s: SparkSession, dir: String) =>
      graft.ext.Olap.topNPerGroup(
          Tables.customer(s, dir).select(col("c_custkey"),
            col("c_mktsegment"), col("c_acctbal")),
          "c_mktsegment", "c_acctbal", "c_custkey", n = 3)
        .orderBy("c_mktsegment", "rnk")),
    // ----- set operators: Spark plans distinct-union as one aggregate,
    // intersect/except as semi/anti hash joins — all shuffle on the full
    // row (here a single pruned key column, the scale-right input) -----
    "set_union" -> ((s: SparkSession, dir: String) => {
      val ev = Tables.events(s, dir)
      ev.filter(col("event_type") === "click").select(col("user_id"))
        .union(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")))
        .distinct().orderBy("user_id")
    }),
    // Jan 1-2 slice (ts < Jan 3): over the full range every user has
    // every event type, making these trivially-full/empty certifications
    "set_intersect" -> ((s: SparkSession, dir: String) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts") < to_timestamp(lit("2024-01-03")))
      ev.filter(col("event_type") === "error").select(col("user_id"))
        .intersect(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")))
        .orderBy("user_id")
    }),
    "set_except" -> ((s: SparkSession, dir: String) => {
      val ev = Tables.events(s, dir)
        .filter(col("ts") < to_timestamp(lit("2024-01-03")))
      ev.filter(col("event_type") === "signup").select(col("user_id"))
        .except(ev.filter(col("event_type") === "purchase")
          .select(col("user_id")))
        .orderBy("user_id")
    }),
    // ----- range (interval) join: clicks within 10 minutes of each signup,
    // bucketed equi-join on (user, time bucket) — never a per-key cross
    // product (RangeJoin scaladoc) -----
    "join_range" -> ((s: SparkSession, dir: String) => {
      val ev = Tables.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
          col("ts").as("c_ts"))
      val windows = ev.filter(col("event_type") === "signup")
        .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
      graft.ext.RangeJoin.pointInInterval(clicks, windows,
          "c_user", "s_user", "c_ts", "w_start", "w_end",
          bucketSeconds = 600L)
        .groupBy(col("signup_id"))
        .agg(count(lit(1)).as("n_clicks"),
          min(col("click_id")).as("first_click"))
        .orderBy("signup_id")
    }),
    // ----- ordered funnel over the event stream: signup → view → click →
    // purchase, each step at-or-after the user's previous step time -----
    "events_funnel" -> ((s: SparkSession, dir: String) =>
      graft.ext.Funnel.stages(Tables.events(s, dir), "user_id", "event_type",
          "ts", Seq("signup", "view", "click", "purchase"))
        .orderBy("stage")),
    // ----- per-completer conversion time through the same ordered chain
    // (Funnel.latency scaladoc: completer set is the smallest frame,
    // exact integer micros) -----
    "events_funnel_latency" -> ((s: SparkSession, dir: String) =>
      graft.ext.Funnel.latency(Tables.events(s, dir), "user_id",
          "event_type", "ts", Seq("signup", "view", "click", "purchase"))
        .orderBy("user_id")),
    // ----- exact per-language length quantiles (type-1, integer-rank
    // arithmetic — externally reproducible, unlike percentile_approx) -----
    "text_quantiles" -> ((s: SparkSession, dir: String) =>
      TextStats.groupQuantiles(Tables.documents(s, dir), "lang", "n_chars",
          Seq(25, 50, 75, 90))
        .orderBy("lang", "pct")),
  )

  val oracles: Map[String, String] = Map(
    // plain join: the bloom prune is plan-internal and changes no rows —
    // false positives are joined away, false negatives are impossible
    "join_bloom" ->
      ("""SELECT p_brand, count(*) AS n_items,
         |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e4 + 0.5)
         |    AS BIGINT)) AS DOUBLE) / 1e4 AS revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE p_size = 1
         |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    // same per-row quantization and left-assoc product as the engine
    "join_multiway" ->
      ("""SELECT n_name, count(*) AS n_items,
         |  CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * 1e4 + 0.5)
         |    AS BIGINT)) AS DOUBLE) / 1e4 AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |GROUP BY n_name ORDER BY n_name""".stripMargin),
    // same distinct-daily-activity frame; cells count rows, not distinct
    "events_retention" ->
      ("""WITH days AS (
         |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
         |), coh AS (
         |  SELECT user_id, min(day) AS coh FROM days GROUP BY user_id
         |)
         |SELECT strftime(coh, '%Y-%m-%d') AS cohort_day,
         |  CAST(datediff('day', coh, day) AS BIGINT) AS day_offset,
         |  count(*) AS n_users
         |FROM days d JOIN coh c ON d.user_id = c.user_id
         |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin),
    // same deterministic (ts, event_id) lag order as events_sessions
    "events_transitions" ->
      ("""WITH seq AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events
         |)
         |SELECT prev_type, event_type AS next_type, count(*) AS n
         |FROM seq WHERE prev_type IS NOT NULL
         |GROUP BY prev_type, event_type
         |ORDER BY prev_type, next_type""".stripMargin),
    // the same grid from generate_series; DuckDB's sum(BIGINT) widens to
    // HUGEINT so both sum columns cast back; IGNORE NULLS carry mirrored
    "ts_resample" ->
      ("""WITH a AS (
         |  SELECT event_type AS key, date_trunc('hour', ts) AS h,
         |    count(*) AS n,
         |    sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS sum_c
         |  FROM events GROUP BY 1, 2
         |), span AS (
         |  SELECT key, min(h) AS mn, max(h) AS mx FROM a GROUP BY key
         |), grid AS (
         |  SELECT key, unnest(generate_series(mn, mx, INTERVAL 1 HOUR)) AS h
         |  FROM span
         |)
         |SELECT g.key AS event_type,
         |  strftime(g.h, '%Y-%m-%d %H:%M:%S') AS hour,
         |  COALESCE(a.n, 0) AS n_events,
         |  CAST(a.sum_c AS BIGINT) AS sum_c,
         |  CAST(last_value(a.sum_c IGNORE NULLS) OVER (
         |    PARTITION BY g.key ORDER BY g.h
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS ffill_c
         |FROM grid g LEFT JOIN a ON a.key = g.key AND a.h = g.h
         |ORDER BY event_type, hour""".stripMargin),
    // the triangle derivation MATERIALIZED (tri is referenced three
    // times by the per-vertex explode — default inlining would cube the
    // wedge join), then per-node counts vs degrees in the same 1e-4
    // integer rational
    "graph_clustering" ->
      ("""WITH grp AS (
         |  SELECT DISTINCT date_trunc('minute', ts) AS b0, user_id AS uid
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |), e AS MATERIALIZED (
         |  SELECT DISTINCT a.uid AS u, b.uid AS v
         |  FROM grp a JOIN grp b ON a.b0 = b.b0 WHERE a.uid < b.uid
         |), deg AS MATERIALIZED (
         |  SELECT n, count(*) AS d
         |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
         |  GROUP BY n
         |), o AS MATERIALIZED (
         |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
         |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t
         |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
         |), w AS (
         |  SELECT w1.s, w1.t AS t1, w2.t AS t2
         |  FROM o w1 JOIN o w2 ON w1.s = w2.s AND w1.t < w2.t
         |), cn AS (
         |  SELECT least(s, t) AS x, greatest(s, t) AS y FROM o
         |), tri AS MATERIALIZED (
         |  SELECT s, t1, t2 FROM w JOIN cn ON cn.x = w.t1 AND cn.y = w.t2
         |), tc AS (
         |  SELECT node, count(*) AS t
         |  FROM (SELECT s AS node FROM tri UNION ALL
         |        SELECT t1 FROM tri UNION ALL SELECT t2 FROM tri)
         |  GROUP BY node
         |)
         |SELECT deg.n AS node, CAST(deg.d AS BIGINT) AS degree,
         |  CAST(COALESCE(tc.t, 0) AS BIGINT) AS tri_cnt,
         |  CASE WHEN deg.d >= 2 THEN
         |    CAST((20000 * COALESCE(tc.t, 0)) // (deg.d * (deg.d - 1))
         |      AS BIGINT)
         |  END AS coeff_e4
         |FROM deg LEFT JOIN tc ON tc.node = deg.n
         |ORDER BY node""".stripMargin),
    // the same peeling unrolled 6 rounds ([[EntryHelpers.KCoreIterCte]]):
    // rounds past the fixpoint are no-ops, so the fixed unroll equals
    // the engine's converge-then-stop loop exactly
    "graph_kcore" ->
      (s"""WITH grp AS (
         |  SELECT DISTINCT date_trunc('minute', ts) AS b0, user_id AS uid
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |), e0 AS MATERIALIZED (
         |  SELECT DISTINCT a.uid AS u, b.uid AS v
         |  FROM grp a JOIN grp b ON a.b0 = b.b0 WHERE a.uid < b.uid
         |), ${(0 until 6).map(i => KCoreIterCte(i, 8)).mkString(", ")}
         |SELECT node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM (SELECT u AS node FROM e6 UNION ALL SELECT v FROM e6)
         |GROUP BY node ORDER BY node""".stripMargin),
    // the sharded edge-builder arm produces the IDENTICAL edge set
    // (property-tested), so the same all-in-SQL reference certifies it
    "graph_triangles_sharded" -> TriangleOracle,
    // same co-activity derivation, same (degree, id) orientation, same
    // wedge close — row-tuple comparison is lexicographic on both engines
    "graph_triangles" -> TriangleOracle,
  ) ++ oraclesRest

  /** The triangle reference shared by both edge-builder arms. */
  private lazy val TriangleOracle: String =
      ("""WITH grp AS (
         |  SELECT DISTINCT date_trunc('minute', ts) AS b0, user_id AS uid
         |  FROM events WHERE user_id IS NOT NULL AND ts IS NOT NULL
         |), e AS (
         |  SELECT DISTINCT a.uid AS u, b.uid AS v
         |  FROM grp a JOIN grp b ON a.b0 = b.b0 WHERE a.uid < b.uid
         |), deg AS (
         |  SELECT n, count(*) AS d
         |  FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
         |  GROUP BY n
         |), o AS (
         |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
         |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t
         |  FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v
         |), w AS (
         |  SELECT w1.s, w1.t AS t1, w2.t AS t2
         |  FROM o w1 JOIN o w2 ON w1.s = w2.s AND w1.t < w2.t
         |), cn AS (
         |  SELECT least(s, t) AS x, greatest(s, t) AS y FROM o
         |)
         |SELECT least(s, t1, t2) AS a,
         |  s + t1 + t2 - least(s, t1, t2) - greatest(s, t1, t2) AS b,
         |  greatest(s, t1, t2) AS c
         |FROM w JOIN cn ON cn.x = w.t1 AND cn.y = w.t2
         |ORDER BY a, b, c""".stripMargin)

  private lazy val oraclesRest: Map[String, String] = Map(
    // the same edge derivation, then 3 generated power-method iterations
    // ([[PrIterCte]]): every value BIGINT, every division integral, the
    // same 85/100 damping split and dropped dangling mass as the engine
    "events_pagerank" ->
      (s"""WITH seq AS (
         |  SELECT user_id, event_type,
         |    lag(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev_type
         |  FROM events
         |), edges AS (
         |  SELECT prev_type AS src, event_type AS dst,
         |    CAST(count(*) AS BIGINT) AS w
         |  FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2
         |), nodes AS (
         |  SELECT src AS node FROM edges UNION SELECT dst FROM edges
         |), nn AS (SELECT CAST(count(*) AS BIGINT) AS c FROM nodes),
         |ow AS (
         |  SELECT src, CAST(sum(w) AS BIGINT) AS outw FROM edges
         |  GROUP BY src
         |), ew AS (
         |  SELECT e.src, e.dst, e.w, o.outw FROM edges e JOIN ow o USING (src)
         |), r0 AS (
         |  SELECT node, CAST(1000000000 AS BIGINT) // c AS pr FROM nodes, nn
         |),
         |${PrIterCte(1, "r0")},
         |${PrIterCte(2, "r1")},
         |${PrIterCte(3, "r2")}
         |SELECT node, pr FROM r3 ORDER BY node""".stripMargin),
    // exact integer-microsecond gaps; single-event users excluded on
    // both sides rather than emitting nulls; the mean is the
    // cleared-denominator (10^4 * sum) // count — avg(BIGINT) streams
    // through a double accumulator in DuckDB and diverged at sf0.1
    "events_interarrival" ->
      ("""WITH g AS (
         |  SELECT user_id,
         |    epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id)) AS gap_us
         |  FROM events
         |)
         |SELECT user_id, count(*) + 1 AS n_events,
         |  CAST(10000 * (sum(gap_us) // count(*)) +
         |    (10000 * (sum(gap_us) % count(*))) // count(*)
         |    AS BIGINT) AS avg_gap_us_e4,
         |  min(gap_us) AS min_gap_us, max(gap_us) AS max_gap_us
         |FROM g WHERE gap_us IS NOT NULL
         |GROUP BY user_id ORDER BY user_id""".stripMargin),
    // same fixed-order (n-prev)*100.0/prev arithmetic; first hours null
    "events_growth" ->
      ("""WITH h AS (
         |  SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour,
         |    event_type, count(*) AS n
         |  FROM events GROUP BY 1, 2
         |), g AS (
         |  SELECT hour, event_type, n,
         |    lag(n) OVER (PARTITION BY event_type ORDER BY hour) AS prev_n
         |  FROM h
         |)
         |SELECT hour, event_type, n, n - prev_n AS delta,
         |  round((n - prev_n) * 100.0 / prev_n, 4) AS pct
         |FROM g ORDER BY event_type, hour""".stripMargin),
    "events_newusers" ->
      ("""WITH a AS (
         |  SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |    user_id
         |  FROM events
         |), f AS (
         |  SELECT user_id, min(day) AS first_day FROM a GROUP BY user_id
         |)
         |SELECT day, count(*) AS n_active,
         |  CAST(sum(CASE WHEN day = first_day THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_new,
         |  CAST(count(*) - sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_returning
         |FROM a JOIN f USING (user_id)
         |GROUP BY day ORDER BY day""".stripMargin),
    // same contribution-explode rolling distinct and integer per-mille
    "events_stickiness" ->
      ("""WITH a AS (
         |  SELECT DISTINCT date_trunc('day', ts) AS d, user_id FROM events
         |), dau AS (
         |  SELECT d, count(*) AS dau FROM a GROUP BY d
         |), contrib AS (
         |  SELECT user_id,
         |    unnest(generate_series(d, d + INTERVAL 6 DAY,
         |      INTERVAL 1 DAY)) AS d
         |  FROM a
         |), mau AS (
         |  SELECT d, count(DISTINCT user_id) AS mau FROM contrib GROUP BY d
         |)
         |SELECT strftime(dau.d, '%Y-%m-%d') AS day, dau, mau,
         |  (dau * 1000) // mau AS stickiness_pm
         |FROM dau JOIN mau USING (d) ORDER BY day""".stripMargin),
    // first-seen counts over EVERY active day (zero-new days included),
    // cumsum'd over the per-day frame
    "events_cumusers" ->
      ("""WITH a AS (
         |  SELECT DISTINCT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
         |    user_id
         |  FROM events
         |), f AS (
         |  SELECT user_id, min(day) AS first_day FROM a GROUP BY user_id
         |), d AS (
         |  SELECT a.day,
         |    CAST(sum(CASE WHEN a.day = f.first_day THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_new
         |  FROM a JOIN f USING (user_id) GROUP BY a.day
         |)
         |SELECT day, n_new,
         |  CAST(sum(n_new) OVER (ORDER BY day
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_users
         |FROM d ORDER BY day""".stripMargin),
    "join_enrich" ->
      ("""SELECT c_custkey, c_name, n_name, r_name
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |ORDER BY c_custkey""".stripMargin),
    "join_revenue" ->
      ("""SELECT c_mktsegment, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // bucketed co-located join must produce byte-identical results too
    "join_bucketed" ->
      ("""SELECT c_mktsegment, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // salted join must produce byte-identical results to the plain join
    "join_salted" ->
      ("""SELECT c_mktsegment, count(*) AS n_orders,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // same grouping-bit convention: DuckDB GROUPING(a,b) == Spark
    // grouping_id(); same floor(x*1e4+0.5) long quantization as the engine
    "agg_rollup" ->
      ("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  CAST(sum(CAST(floor(o_totalprice * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1e4 AS total,
         |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         |FROM orders
         |GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
         |ORDER BY gid, o_orderstatus NULLS FIRST,
         |  o_orderpriority NULLS FIRST""".stripMargin),
    // the same three explicit sets; GROUPING() reproduces Spark's gid bits
    "agg_groupingsets" ->
      ("""SELECT o_orderstatus, o_orderpriority, count(*) AS n,
         |  CAST(sum(CAST(floor(o_totalprice * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1e4 AS total,
         |  CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         |FROM orders
         |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
         |  (o_orderstatus), (o_orderpriority))
         |ORDER BY gid, o_orderstatus NULLS FIRST,
         |  o_orderpriority NULLS FIRST""".stripMargin),
    "agg_cube" ->
      ("""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  CAST(sum(CAST(floor(l_quantity * 1e4 + 0.5) AS BIGINT)) AS DOUBLE)
         |    / 1e4 AS total,
         |  CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         |FROM lineitem
         |GROUP BY CUBE(l_returnflag, l_linestatus)
         |ORDER BY gid, l_returnflag NULLS FIRST,
         |  l_linestatus NULLS FIRST""".stripMargin),
    // count FILTER (not sum CASE): DuckDB sums integers into HUGEINT,
    // count stays BIGINT like Spark's pivot-count columns
    "agg_pivot" ->
      ("""SELECT o_orderpriority,
         |  count(*) FILTER (WHERE o_orderstatus = 'F') AS n_f,
         |  count(*) FILTER (WHERE o_orderstatus = 'O') AS n_o,
         |  count(*) FILTER (WHERE o_orderstatus = 'P') AS n_p
         |FROM orders GROUP BY o_orderpriority
         |ORDER BY o_orderpriority""".stripMargin),
    "agg_distinct" ->
      ("""SELECT event_type, count(DISTINCT user_id) AS n_distinct,
         |  count(*) AS n_rows
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    // the identical zero-padded total ordering key makes arg_min/arg_max
    // tie-free, so the per-group winners match Spark's min_by/max_by
    // same k-bounded rank-then-join ordering; string_agg ORDER BY makes
    // the joined list deterministic on both engines
    "agg_stringagg" ->
      ("""WITH d AS (
         |  SELECT DISTINCT c_mktsegment, c_name FROM customer
         |), r AS (
         |  SELECT c_mktsegment, c_name,
         |    row_number() OVER (PARTITION BY c_mktsegment ORDER BY c_name)
         |      AS rn
         |  FROM d
         |)
         |SELECT c_mktsegment,
         |  string_agg(c_name, ',' ORDER BY c_name) AS top_vals
         |FROM r WHERE rn <= 3
         |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    // identical cent quantization and moment arithmetic: hugeint sums
    // play decimal(38,0); one cast + one division per statistic
    "agg_varstats" ->
      ("""WITH c AS (
         |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
         |  FROM events
         |), m AS (
         |  SELECT event_type, count(*) AS n, sum(vc) AS sv,
         |    sum(vc * vc) AS svv
         |  FROM c GROUP BY event_type
         |)
         |SELECT event_type, n,
         |  round(CAST(sv AS DOUBLE) / n, 4) AS mean_c,
         |  round(CAST(n * svv - sv * sv AS DOUBLE) /
         |        CAST(n * n AS DOUBLE), 4) AS var_c
         |FROM m ORDER BY event_type""".stripMargin),
    // counts-then-rank with the identical (cnt desc, value) tie order
    "agg_mode" ->
      ("""WITH c AS (
         |  SELECT c_nationkey, c_mktsegment, count(*) AS cnt
         |  FROM customer GROUP BY 1, 2
         |)
         |SELECT c_nationkey, c_mktsegment AS mode, cnt FROM c
         |QUALIFY row_number() OVER (PARTITION BY c_nationkey
         |  ORDER BY cnt DESC, c_mktsegment) = 1
         |ORDER BY c_nationkey""".stripMargin),
    // the same pre-aggregated lower-median crossing; window sums widen
    // to HUGEINT so the final value casts back
    "agg_wmedian" ->
      ("""WITH q AS (
         |  SELECT l_returnflag,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS v,
         |    sum(CAST(l_quantity AS BIGINT)) AS wv
         |  FROM lineitem WHERE l_quantity > 0
         |  GROUP BY 1, 2
         |), c AS (
         |  SELECT l_returnflag, v,
         |    sum(wv) OVER (PARTITION BY l_returnflag ORDER BY v
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(wv) OVER (PARTITION BY l_returnflag) AS tot
         |  FROM q
         |)
         |SELECT l_returnflag, CAST(min(v) AS BIGINT) AS wmedian_c
         |FROM c WHERE cum * 2 >= tot
         |GROUP BY l_returnflag
         |ORDER BY l_returnflag""".stripMargin),
    // same cent quantization and co-moments; hugeint sums, fixed-order
    // cov / (sqrt·sqrt) finish; zero-variance groups null out
    "agg_corr" ->
      ("""WITH c AS (
         |  SELECT l_returnflag,
         |    CAST(floor(l_quantity * 100 + 0.5) AS BIGINT) AS xc,
         |    CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) AS yc
         |  FROM lineitem
         |), m AS (
         |  SELECT l_returnflag, count(*) AS n, sum(xc) AS sx, sum(yc) AS sy,
         |    sum(xc * yc) AS sxy, sum(xc * xc) AS sxx, sum(yc * yc) AS syy
         |  FROM c GROUP BY l_returnflag
         |)
         |SELECT l_returnflag, n,
         |  CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE) = 0
         |         OR CAST(n * syy - sy * sy AS DOUBLE) = 0 THEN NULL
         |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE) /
         |         (sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) *
         |          sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
         |  END AS corr
         |FROM m ORDER BY l_returnflag""".stripMargin),
    // merged slice states must equal the full recompute — the oracle IS
    // the full recompute
    "ops_incragg" ->
      ("""WITH c AS (
         |  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS vc
         |  FROM events
         |), m AS (
         |  SELECT event_type, count(*) AS n, sum(vc) AS sv,
         |    sum(vc * vc) AS svv
         |  FROM c GROUP BY event_type
         |)
         |SELECT event_type, n,
         |  round(CAST(sv AS DOUBLE) / n, 4) AS mean_c,
         |  round(CAST(n * svv - sv * sv AS DOUBLE) /
         |        CAST(n * n AS DOUBLE), 4) AS var_c
         |FROM m ORDER BY event_type""".stripMargin),
    "agg_argmax" ->
      ("""WITH k AS (
         |  SELECT o_custkey, o_orderkey, o_orderdate,
         |    lpad(CAST(epoch_us(o_orderdate) AS VARCHAR), 16, '0') ||
         |    lpad(CAST(o_orderkey AS VARCHAR), 12, '0') AS ord_key
         |  FROM orders
         |)
         |SELECT o_custkey, count(*) AS n_rows,
         |  arg_min(o_orderkey, ord_key) AS first_id,
         |  arg_max(o_orderkey, ord_key) AS last_id,
         |  strftime(max(o_orderdate), '%Y-%m-%d %H:%M:%S') AS last_ts
         |FROM k GROUP BY o_custkey ORDER BY o_custkey""".stripMargin),
    // the full HLL sketch replayed in SQL: same hash, register split,
    // bitlength rank, max-merge, exact integer harmonic sum, and the
    // identical fixed-order double estimate
    "agg_hll" -> HllOracle,
    // same oracle: the native-aggregate strategy must land the identical
    // registers, harmonic sum, and estimate
    "agg_hll_native" -> HllOracle,
    // identical state arithmetic through spark.sql — same oracle again
    "agg_hll_sql" -> HllOracle,
    // the merged half-sketches must equal the direct sketch of the whole
    // table — same oracle, by design
    "agg_hll_union" -> HllOracle,
    // inclusion–exclusion over the shared register CTEs: single-group
    // estimates from `state`, the union estimate from the pairwise
    // max-merged registers, identical double association everywhere
    "agg_hll_intersect" ->
      (s"""WITH $HllCtes, est AS (
         |  SELECT event_type,
         |    CAST(0.709 AS DOUBLE) * 4096 * 67108864 /
         |      CAST(isum_p + (64 - n_regs) * 67108864 AS DOUBLE) AS est
         |  FROM state
         |), pairs AS (
         |  SELECT a.event_type AS grp_a, b.event_type AS grp_b
         |  FROM (SELECT DISTINCT event_type FROM regs) a,
         |       (SELECT DISTINCT event_type FROM regs) b
         |  WHERE a.event_type < b.event_type
         |), u AS (
         |  SELECT p.grp_a, p.grp_b, r.reg, max(r.m_j) AS m_j
         |  FROM pairs p JOIN regs r
         |    ON r.event_type = p.grp_a OR r.event_type = p.grp_b
         |  GROUP BY 1, 2, 3
         |), ustate AS (
         |  SELECT grp_a, grp_b, count(*) AS n_regs,
         |    sum(CAST(1 AS BIGINT) << (26 - m_j)) AS isum_p
         |  FROM u GROUP BY 1, 2
         |), uest AS (
         |  SELECT grp_a, grp_b,
         |    CAST(0.709 AS DOUBLE) * 4096 * 67108864 /
         |      CAST(isum_p + (64 - n_regs) * 67108864 AS DOUBLE) AS est_union
         |  FROM ustate
         |)
         |SELECT u.grp_a, u.grp_b, ea.est AS est_a, eb.est AS est_b,
         |  u.est_union,
         |  greatest(CAST(0 AS BIGINT),
         |    CAST(floor((ea.est + eb.est - u.est_union) * 1e4 + 0.5)
         |      AS BIGINT)) AS isect_e4
         |FROM uest u
         |JOIN est ea ON ea.event_type = u.grp_a
         |JOIN est eb ON eb.event_type = u.grp_b
         |ORDER BY u.grp_a, u.grp_b""".stripMargin),
    // same decimal accumulation + total window order as the engine
    "window_running" ->
      ("""SELECT o_custkey, o_orderkey,
         |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
         |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
         |    AS running_total
         |FROM orders ORDER BY o_custkey, o_orderkey""".stripMargin),
    "agg_topn" ->
      ("""SELECT c_custkey, c_mktsegment, c_acctbal, rnk FROM (
         |  SELECT c_custkey, c_mktsegment, c_acctbal,
         |    CAST(row_number() OVER (PARTITION BY c_mktsegment
         |      ORDER BY c_acctbal DESC, c_custkey) AS BIGINT) AS rnk
         |  FROM customer) t
         |WHERE rnk <= 3 ORDER BY c_mktsegment, rnk""".stripMargin),
    "set_union" ->
      ("""SELECT user_id FROM events WHERE event_type = 'click'
         |UNION
         |SELECT user_id FROM events WHERE event_type = 'purchase'
         |ORDER BY user_id""".stripMargin),
    "set_intersect" ->
      ("""SELECT user_id FROM events
         |WHERE event_type = 'error' AND ts < TIMESTAMP '2024-01-03'
         |INTERSECT
         |SELECT user_id FROM events
         |WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'
         |ORDER BY user_id""".stripMargin),
    "set_except" ->
      ("""SELECT user_id FROM events
         |WHERE event_type = 'signup' AND ts < TIMESTAMP '2024-01-03'
         |EXCEPT
         |SELECT user_id FROM events
         |WHERE event_type = 'purchase' AND ts < TIMESTAMP '2024-01-03'
         |ORDER BY user_id""".stripMargin),
    // both operands micros-truncated (CAST ts AS TIMESTAMP) exactly like
    // the engine's nanos→micros events read — comparing at nanos could
    // flip boundary pairs the engine sees as equal
    "join_range" ->
      ("""WITH e AS (
         |  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
         |  FROM events
         |)
         |SELECT s.event_id AS signup_id, count(*) AS n_clicks,
         |  min(c.event_id) AS first_click
         |FROM e s JOIN e c ON s.event_type = 'signup'
         |  AND c.event_type = 'click' AND c.user_id = s.user_id
         |  AND c.ts >= s.ts AND c.ts < s.ts + INTERVAL 10 MINUTE
         |GROUP BY s.event_id ORDER BY signup_id""".stripMargin),
    // the same chained min-time reach sets, micros-truncated timestamps
    "events_funnel" ->
      ("""WITH e AS (
         |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
         |),
         |r1 AS (SELECT user_id, min(ts) AS t FROM e
         |       WHERE event_type = 'signup' GROUP BY user_id),
         |r2 AS (SELECT e.user_id, min(e.ts) AS t FROM e
         |       JOIN r1 ON e.user_id = r1.user_id
         |       WHERE e.event_type = 'view' AND e.ts >= r1.t
         |       GROUP BY e.user_id),
         |r3 AS (SELECT e.user_id, min(e.ts) AS t FROM e
         |       JOIN r2 ON e.user_id = r2.user_id
         |       WHERE e.event_type = 'click' AND e.ts >= r2.t
         |       GROUP BY e.user_id),
         |r4 AS (SELECT e.user_id, min(e.ts) AS t FROM e
         |       JOIN r3 ON e.user_id = r3.user_id
         |       WHERE e.event_type = 'purchase' AND e.ts >= r3.t
         |       GROUP BY e.user_id)
         |SELECT CAST(1 AS BIGINT) AS stage, 'signup' AS step,
         |  (SELECT count(*) FROM r1) AS n_users
         |UNION ALL SELECT 2, 'view', (SELECT count(*) FROM r2)
         |UNION ALL SELECT 3, 'click', (SELECT count(*) FROM r3)
         |UNION ALL SELECT 4, 'purchase', (SELECT count(*) FROM r4)
         |ORDER BY stage""".stripMargin),
    // the same chained-min CTEs; completion latency = last minus first
    // admissible time in exact integer micros
    "events_funnel_latency" ->
      ("""WITH e AS (
         |  SELECT user_id, event_type, CAST(ts AS TIMESTAMP) AS ts FROM events
         |),
         |r1 AS (SELECT user_id, min(ts) AS t FROM e
         |       WHERE event_type = 'signup' GROUP BY user_id),
         |r2 AS (SELECT e.user_id, min(e.ts) AS t FROM e
         |       JOIN r1 ON e.user_id = r1.user_id
         |       WHERE e.event_type = 'view' AND e.ts >= r1.t
         |       GROUP BY e.user_id),
         |r3 AS (SELECT e.user_id, min(e.ts) AS t FROM e
         |       JOIN r2 ON e.user_id = r2.user_id
         |       WHERE e.event_type = 'click' AND e.ts >= r2.t
         |       GROUP BY e.user_id),
         |r4 AS (SELECT e.user_id, min(e.ts) AS t FROM e
         |       JOIN r3 ON e.user_id = r3.user_id
         |       WHERE e.event_type = 'purchase' AND e.ts >= r3.t
         |       GROUP BY e.user_id)
         |SELECT r4.user_id,
         |  strftime(r1.t, '%Y-%m-%d %H:%M:%S') AS started,
         |  epoch_us(r4.t) - epoch_us(r1.t) AS latency_us
         |FROM r4 JOIN r1 USING (user_id) ORDER BY user_id""".stripMargin),
    // identical integer rank arithmetic ((n*p + 99) // 100, type-1)
    "text_quantiles" ->
      ("""WITH r AS (
         |  SELECT lang, n_chars,
         |    row_number() OVER (PARTITION BY lang ORDER BY n_chars) AS rn,
         |    count(*) OVER (PARTITION BY lang) AS n
         |  FROM documents
         |)
         |SELECT lang, CAST(pct AS BIGINT) AS pct, n_chars AS q_value
         |FROM r, (SELECT unnest([25, 50, 75, 90]) AS pct) p
         |WHERE rn = (n * pct + 99) // 100
         |ORDER BY lang, pct""".stripMargin),
  )
}
