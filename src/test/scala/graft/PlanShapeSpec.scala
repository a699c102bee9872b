package graft

import graft.exec.Executor
import graft.ext.Similarity
import graft.ir.MongoJson

/** Plan-shape assertions — the scale-design contract, checked mechanically:
  * filters reach the parquet scan (`PushedFilters`), projections prune the
  * read schema (`ReadSchema`), top-k plans as TakeOrderedAndProject, pair
  * joins never degenerate to CartesianProduct, and the hot expressions sit
  * inside WholeStageCodegen. A regression in any of these is a 100x cost at
  * 100 TB long before it's a wrong answer. */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def executed(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan") {
    val df = Executor.plan(Tables.customer(spark, dir),
      MongoJson.parse("""{"filter": {"c_acctbal": {"$gt": 5000}}}"""))
    val plan = executed(df)
    assert(plan.contains("PushedFilters"), plan.take(500))
    assert(plan.contains("GreaterThan(c_acctbal,5000.0)"), plan.take(2000))
  }

  test("multi-predicate conjunction pushes down as one set") {
    val df = Executor.plan(Tables.customer(spark, dir), MongoJson.parse(
      """{"filter": {"c_mktsegment": "BUILDING", "c_acctbal": {"$gt": 2500}}}"""))
    val plan = executed(df)
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"))
    // toString truncates the PushedFilters list — prefix is sufficient
    assert(plan.contains("GreaterThan(c_acc"))
  }

  test("projection prunes the read schema to the selected columns") {
    val df = Executor.plan(Tables.customer(spark, dir), MongoJson.parse(
      """{"filter": {}, "projection": {"c_custkey": 1, "c_name": 1}}"""))
    val plan = executed(df)
    assert(plan.contains("ReadSchema: struct<c_custkey:bigint,c_name:string>"),
      plan.take(2000))
  }

  test("orderBy + limit plans as TakeOrderedAndProject (no global sort)") {
    val df = Similarity.topK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", Seq.fill(64)(0.1), k = 10)
    val plan = executed(df)
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(2000))
  }

  test("bare limit plans as CollectLimit") {
    val df = Executor.plan(Tables.customer(spark, dir),
      MongoJson.parse("""{"filter": {}}""").copy(limit = Some(50)))
    assert(executed(df).contains("CollectLimit"))
  }

  test("pairwise similarity join is broadcast-NL, never CartesianProduct") {
    val df = Similarity.nearDupPairs(Tables.embeddings(spark, dir),
      "vec_id", "embedding", 0.9)
    val plan = executed(df)
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.take(800))
    assert(!plan.contains("CartesianProduct"))
  }

  test("dimension enrichment joins broadcast the small sides") {
    val df = graft.ext.Events.enrichCustomer(Tables.customer(spark, dir),
      Tables.nation(spark, dir), Tables.region(spark, dir))
    val plan = executed(df)
    assert(plan.contains("BroadcastHashJoin"))
    assert(!plan.contains("SortMergeJoin"))
  }

  test("custom expressions run inside WholeStageCodegen") {
    val df = Similarity.topK(Tables.embeddings(spark, dir), "vec_id",
      "embedding", Seq.fill(64)(0.1), k = 5)
    val plan = executed(df)
    // "*(1)" is the WholeStageCodegen stage marker in executedPlan text;
    // arraydot appearing INSIDE a starred operator = codegen'd evaluation
    assert(plan.contains("*(1) Project"), plan.take(800))
    assert(plan.contains("arraydot"), plan.take(800))
    // and evaluation actually works through the codegen path on real data
    assert(df.collect().length == 5)
  }

  test("shared-shingle blocking join is a hash equi-join on the gram key") {
    val df = graft.ext.Dedup.jaccardPairs(Tables.documents(spark, dir),
      "doc_id", "text", n = 3, threshold = 0.5)
    val plan = executed(df)
    assert(!plan.contains("CartesianProduct"))
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // equi-join on the hashed gram: shuffled hash or broadcast hash both fine
    assert(plan.contains("HashJoin"), plan.take(1200))
  }

  test("top-terms is partial-agg + TakeOrderedAndProject, no global sort") {
    val plan = executed(graft.ext.TextStats.topTerms(
      Tables.documents(spark, dir), "text", k = 50))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(1500))
    // partial aggregation before the shuffle (two HashAggregate levels)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
  }

  test("hash sampling is a pure scan-side filter — zero exchanges") {
    val plan = executed(graft.ext.Sampling.stratifiedHashSample(
      Tables.documents(spark, dir), "lang", "text",
      rates = Map("en" -> 2), defaultKeep = 5, outOf = 10))
    assert(!plan.contains("Exchange"), plan.take(1200))
    assert(plan.contains("Filter"), plan.take(800))
  }

  test("centroid components prune the scan and pre-aggregate map-side") {
    val plan = executed(graft.ext.Similarity.centroidComponents(
      Tables.embeddings(spark, dir), "embedding", "label"))
    // only the two needed columns reach the parquet reader
    assert(plan.contains("ReadSchema: struct<embedding:array<float>,label:int>"),
      plan.take(1500))
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
  }

  test("multiway star join: equi-joins only, pruned fact scan") {
    val plan = executed(graft.ext.Events.revenueByNation(
      Tables.lineitem(spark, dir), Tables.orders(spark, dir),
      Tables.customer(spark, dir), Tables.nation(spark, dir)))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
    // the fact scan reads exactly the three needed columns
    assert(plan.contains("ReadSchema: struct<l_orderkey:bigint," +
      "l_extendedprice:double,l_discount:double>"), plan.take(3000))
  }

  test("range join: event-type filter pushed down, no nested-loop product") {
    val ev = Tables.events(spark, dir)
    import org.apache.spark.sql.functions._
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_user"),
        col("ts").as("c_ts"))
    val windows = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("signup_id"), col("user_id").as("s_user"),
        col("ts").as("w_start"),
        (col("ts") + expr("INTERVAL 10 MINUTES")).as("w_end"))
    val plan = executed(graft.ext.RangeJoin.pointInInterval(clicks, windows,
      "c_user", "s_user", "c_ts", "w_start", "w_end"))
    assert(plan.contains("EqualTo(event_type,click)"), plan.take(3000))
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan.take(1500))
  }

  test("tf-idf top-k prunes per-partition before the window shuffle") {
    val plan = executed(graft.ext.TextStats.tfidfTopTerms(
      Tables.documents(spark, dir), "doc_id", "text", k = 3))
    // WindowGroupLimit keeps only k rows per group BEFORE the exchange —
    // without it the full (doc, term) frame shuffles to be discarded
    assert(plan.contains("WindowGroupLimit"), plan.take(2500))
    graft.ext.Dedup.unpersistAll()
  }

  test("HLL registers pre-aggregate map-side — the wire carries sketch " +
      "rows, not events") {
    val plan = executed(graft.ext.Hll.registers(
      Tables.events(spark, dir), "event_type", "user_id"))
    // partial max(rank) before the exchange: at most (groups × m) rows
    // shuffle regardless of input size — the whole point of a sketch
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(1500))
  }

  test("quota sampling prunes per-partition before the group shuffle") {
    val plan = executed(graft.ext.Sampling.quotaSample(
      Tables.documents(spark, dir), "source", "doc_id", "text", quota = 8))
    // WindowGroupLimit caps each map partition at quota rows per group —
    // the exchange carries O(partitions · quota), not the group's mass
    assert(plan.contains("WindowGroupLimit"), plan.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(1500))
  }

  test("PMI collocations broadcast the vocabulary and totals — the pair " +
      "frame never re-shuffles for the lookups") {
    val plan = executed(graft.ext.TextStats.pmiTopBigrams(
      Tables.documents(spark, dir), "text", minCount = 5L, k = 40))
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("SortMergeJoin"), plan.take(1500))
    assert(plan.contains("BroadcastHashJoin"), plan.take(1500))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(2000))
  }

  test("repetition metrics ride the scan — zero exchanges") {
    val plan = executed(graft.ext.TextStats.repetitionStats(
      Tables.documents(spark, dir), "doc_id", "text"))
    assert(!plan.contains("Exchange"), plan.take(1200))
  }

  test("sequence packing shuffles once, on the shard column only") {
    val plan = executed(graft.ext.Packing.packBlocks(
      Tables.documents(spark, dir), "doc_id", "text", "lang", 512L))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(1500))
    assert(plan.contains("Window"), plan.take(800))
  }

  test("PII census/redaction rides the scan — zero exchanges") {
    val plan = executed(graft.ext.Pii.scanRedact(
      Tables.documents(spark, dir), "doc_id", "text"))
    assert(!plan.contains("Exchange"), plan.take(1500))
    // `*(1)` is the whole-stage-codegen stage marker in toString form
    assert(plan.contains("*(1) Project"), plan.take(800))
  }

  test("inter-arrival: lag window and groupBy share ONE user_id exchange") {
    val plan = executed(graft.ext.Events.interArrival(
      Tables.events(spark, dir)))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(2000))
  }

  test("argExtremes is one aggregate pass — no window, no sort exchange") {
    val plan = executed(graft.ext.Olap.argExtremes(
      Tables.orders(spark, dir), "o_custkey", "o_orderkey", "o_orderdate"))
    assert(!plan.contains("Window"), plan.take(1500))
    assert(!plan.contains("Exchange rangepartitioning"), plan.take(1500))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(2000))
  }

  test("moment stats is one partial-aggregated exchange of 3 sums") {
    val plan = executed(graft.ext.Olap.momentStats(
      Tables.events(spark, dir), "event_type", "value"))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(2000))
    assert(!plan.contains("Expand"), plan.take(1500))
  }

  test("hash vectorizer: codegen'd hash, one (doc, bucket) exchange") {
    val plan = executed(graft.ext.TextStats.hashVectorize(
      Tables.documents(spark, dir), "doc_id", "text", 64))
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(2000))
    assert(plan.toLowerCase.contains("tokenpolyhashes"), plan.take(1500))
  }

  test("PQ ADC search: broadcast lookups only, top-k prune, no cartesian") {
    val emb = Tables.embeddings(spark, dir)
    val q = emb.where(org.apache.spark.sql.functions.col("vec_id") === 0)
      .select(org.apache.spark.sql.functions.col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)
    val plan = executed(graft.ext.Similarity.pqTopK(
      emb, "vec_id", "embedding", "label", 4, q, 10))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("TakeOrderedAndProject"), plan.take(800))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("interval overlap join: hash equi-join on (key, bucket), no BNL") {
    import org.apache.spark.sql.functions.{col, expr}
    val e = Tables.events(spark, dir)
    def win(t: String, idAs: String, keyAs: String, sAs: String,
            eAs: String) =
      e.filter(col("event_type") === t).select(
        col("event_id").as(idAs), col("user_id").as(keyAs),
        col("ts").as(sAs), (col("ts") + expr("INTERVAL 60 MINUTES")).as(eAs))
    val plan = executed(graft.ext.RangeJoin.intervalOverlap(
      win("view", "v_id", "v_user", "v_start", "v_end"),
      win("click", "c_id", "c_user", "c_start", "c_end"),
      "v_user", "c_user", "v_start", "v_end", "c_start", "c_end", 3600L))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("compaction plan windows per partition dir, never globally") {
    val inv = Tables.documents(spark, dir)
      .groupBy(org.apache.spark.sql.functions.col("lang"),
        org.apache.spark.sql.functions.col("source"))
      .agg(org.apache.spark.sql.functions.sum(
        org.apache.spark.sql.functions.col("n_chars")).as("bytes"))
    val plan = executed(graft.sources.Compaction.plan(
      inv, "lang", "source", "bytes", 15000L))
    // a partitionless window would plan Exchange SinglePartition
    assert(!plan.contains("Exchange SinglePartition"), plan.take(2000))
    assert(plan.contains("Window"), plan.take(800))
  }

  test("z-order stats: codegen'd bit interleave, one aggregate exchange") {
    import org.apache.spark.sql.functions.col
    val plan = executed(graft.sources.Layout.zOrderStats(
      Tables.lineitem(spark, dir).select(
        (col("l_partkey") % 256).as("x"), (col("l_suppkey") % 256).as("y")),
      "x", "y", bits = 8, prefixShift = 8))
    // the interleave is shiftleft/and/or built-ins: no BatchEvalPython,
    // no udf marker, and exactly the one hashpartitioning exchange of
    // the groupBy — the z-value itself rides the scan
    assert(!plan.contains("udf"), plan.take(2000))
    assert("Exchange hashpartitioning".r.findAllIn(plan).length == 1, plan)
    assert(plan.contains("ReadSchema: struct<l_partkey:bigint,l_suppkey:bigint>"),
      plan.take(2000))
  }

  test("winnowing fingerprints ride the scan — zero exchanges") {
    val plan = executed(graft.ext.TextStats.winnowFingerprints(
      Tables.documents(spark, dir), "doc_id", "text"))
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"),
      plan.take(2000))
  }

  test("pagerank iteration: equi-joins + partial aggregates, no cartesian") {
    import org.apache.spark.sql.functions.col
    val edges = graft.ext.Events.transitions(Tables.events(spark, dir))
    val plan = executed(graft.ext.Components.pageRank(
      edges, "prev_type", "next_type", "n", iters = 2))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the only nested-loop joins are the broadcast 1-row node-count
    // totals (the teleport base) — every rank×edge join is an equi-join
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(plan).length
    val equi = "SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin".r
      .findAllIn(plan).length
    assert(bnl <= 3 && equi >= 2, s"bnl=$bnl equi=$equi\n" + plan.take(2000))
    // the cached edge list feeds every iteration — no per-iteration rescan
    assert(plan.contains("InMemoryTableScan"), plan.take(2000))
    graft.ext.Dedup.unpersistAll()
  }

  test("MAD flags: both rank selections inside ONE group-key exchange") {
    val plan = executed(graft.ext.Events.madOutliers(
      Tables.events(spark, dir), "event_type", "value", k = 5))
    // the r9 two-pass formulation shuffled the value mass twice (one
    // windowed rank selection per median); the single-partitioning
    // formulation re-sorts within partitions for the deviation ranks
    // but never re-shuffles — and needs no joins at all
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1,
      plan.take(2500))
    assert(!plan.contains("Join"), plan.take(2500))
  }

  test("JL projection: codegen'd kernel rides the scan — zero exchanges") {
    val plan = executed(graft.ext.Similarity.randomProject(
      Tables.embeddings(spark, dir), "vec_id", "embedding", outDim = 8))
    // row-local by construction: no shuffle, no interpreted-HOF marker
    // (the lambda runtime only appears when a HOF survives the plan)
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("lambda"), plan.take(2000))
  }

  test("k-means assignment: codegen argmin, no shuffle, no HOF lambdas") {
    val emb = Tables.embeddings(spark, dir)
    val cents = graft.ext.KMeans.fit(emb, "vec_id", "embedding", 4, 1)
    val plan = executed(emb.select(
      graft.ext.KMeans.assignCell(
        org.apache.spark.sql.functions.col("embedding"), cents).as("cell")))
    assert(!plan.contains("Exchange"), plan.take(2000))
    assert(!plan.contains("lambda"), plan.take(2000))
    // the starred stage marker is this format's WholeStageCodegen flag —
    // the argmin projection must sit inside one
    assert("""\*\(\d+\) Project""".r.findFirstIn(plan).isDefined,
      plan.take(2000))
  }

  test("pipeline funnel: decontamination is a broadcast anti-join") {
    val plan = executed(
      SparkEntry.queries("pipeline_funnel")(spark, dir))
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("hybrid retrieval: per-query top-C ranks via WindowGroupLimit") {
    val plan = executed(SparkEntry.queries("search_hybrid")(spark, dir))
    // every rank (lex top-C, vec top-C, fused top-k) is partitioned by
    // query_id with its filter adjacent, so Spark must prune each
    // partition to its head BEFORE the rank shuffle — a full-corpus
    // Window (or a global Sort) here would be the scale bug
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 3,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    // the query batch (terms + vectors) must ride broadcasts, never a
    // shuffled join side
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("batched hybrid retrieval keeps the same pruned per-query shape") {
    val plan = executed(SparkEntry.queries("search_hybrid_batch")(spark, dir))
    assert("WindowGroupLimit".r.findAllIn(plan).length >= 3,
      plan.take(3000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
  }

  test("round-12 graph/ER/resample/PPS plans never degenerate to NL joins") {
    // every join in these operators is a conjunctive equi-join (or a
    // bounded broadcast hash side) by design; a CartesianProduct or BNL
    // appearing in any of them is the quadratic regression class
    for (q <- Seq("er_resolve", "graph_triangles", "graph_clustering",
        "graph_kcore", "ts_resample", "sample_pps", "agg_wmedian")) {
      val plan = executed(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(1500)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q:\n${plan.take(1500)}")
      graft.ext.Dedup.unpersistAll()
    }
  }

  test("triangle closing join broadcasts the bounded edge set") {
    val plan = executed(SparkEntry.queries("graph_triangles")(spark, dir))
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
    graft.ext.Dedup.unpersistAll()
  }

  test("round-13 plans: forward as-of stays a no-join window merge; the " +
      "SQL-surface and router queries never degenerate") {
    val fwd = executed(SparkEntry.queries("join_asof_fwd")(spark, dir))
    assert(!fwd.contains("Join"), fwd.take(1500))
    assert(fwd.contains("Window"), fwd.take(800))
    for (q <- Seq("join_asof_auto", "text_fingerprint_sql", "agg_hll_sql",
        "mm_meta_jpeg")) {
      val plan = executed(SparkEntry.queries(q)(spark, dir))
      assert(!plan.contains("CartesianProduct"), s"$q:\n${plan.take(1500)}")
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$q:\n${plan.take(1500)}")
    }
  }

  test("sharded co-activity: conjunctive equi-join on (bucket, i, j)") {
    import org.apache.spark.sql.functions.col
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"))
    val plan = executed(
      graft.ext.Triangles.coActivityEdges(ev, minShards = 4))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    graft.ext.Dedup.unpersistAll()
  }

  test("line dedup: equi-join on the line, map-side-distinct frequent set") {
    import org.apache.spark.sql.functions.{col, concat, lit, when}
    val lined = Tables.documents(spark, dir).select(col("doc_id"),
      concat(col("text"), when(col("doc_id") % 7 === 0,
        lit("\nfooter")).otherwise(lit(""))).as("text"))
    val plan = executed(
      graft.ext.TextStats.lineDedup(lined, "doc_id", "text"))
    // the corpus-vs-frequent-lines join must stay an equi-join: a BNL or
    // cartesian here is quadratic in the corpus
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
    // distinct (line, doc) pairs pre-aggregate before the count shuffle
    assert(plan.contains("HashAggregate"), plan.take(800))
  }
}
