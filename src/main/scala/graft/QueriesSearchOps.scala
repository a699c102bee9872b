package graft

import graft.compile.NlCompiler
import graft.exec.Executor
import graft.ext.{Dedup, Events, Multimodal, Similarity, TextStats}
import graft.ir.MongoJson
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import EntryHelpers._

/** Ranking/retrieval (tf-idf, BM25, hybrid RRF), tokenization, sinks/sources, table ops (txlog, vacuum, optimize), multimodal, CDC merge, profiling.
  *
  * One of six per-domain registries merged by [[SparkEntry.queries]] /
  * [[SparkEntry.oracleSql]] — pure relocation of the former monolithic
  * maps, no behavior change (47 entries incl. the round-12 Y4M/resize/media-meta paths). */
private[graft] object QueriesSearchOps {
  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----- per-document tf-idf keywords (integer-quantized idf) -----
    "text_tfidf" -> ((s: SparkSession, dir: String) =>
      TextStats.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text",
          k = 3)
        .orderBy("doc_id", "rnk")),
    // ----- corpus top bigrams by document frequency -----
    "text_bigrams" -> ((s: SparkSession, dir: String) =>
      TextStats.bigramTopTerms(Tables.documents(s, dir), "text", k = 40)
        .orderBy(col("doc_freq").desc, col("bigram").asc)),
    // ----- Gopher-style repetition metrics: duplicate-bigram and
    // top-token fractions, exact integer ratios rounded to 4 decimals -----
    "text_repetition" -> ((s: SparkSession, dir: String) =>
      TextStats.repetitionStats(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // ----- PMI collocations: top word pairs by the integer-rational
    // P(x,y)/(P(x)P(y)) — one IEEE division, deterministic k-boundary -----
    "text_pmi" -> ((s: SparkSession, dir: String) =>
      TextStats.pmiTopBigrams(Tables.documents(s, dir), "text",
          minCount = 5L, k = 40)
        .orderBy(col("score").desc, col("x").asc, col("y").asc)),
    // ----- per-document BM25 top-k (TextStats scaladoc: denominators
    // cleared to integer-exact rationals, one IEEE division) -----
    "text_bm25" -> ((s: SparkSession, dir: String) =>
      TextStats.bm25TopTerms(Tables.documents(s, dir), "doc_id", "text",
          k = 3)
        .orderBy("doc_id", "rnk")),
    // ----- hybrid lexical+vector retrieval with reciprocal-rank fusion
    // (Retrieval scaladoc: per-query top-C via WindowGroupLimit, EXACT
    // BM25 lexical score — bm25TopTerms' integer rational — q4 cosine,
    // Σ floor(1e9/(60+rank)) fusion — the RAG serving topology as one
    // certified query) -----
    "search_hybrid" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      graft.ext.Retrieval.hybridTopK(
          Tables.documents(s, dir), "doc_id", "text",
          emb, "vec_id", "embedding",
          queryTerms = Seq("data", "query", "join"),
          queryVec = queryVec(emb), k = 10, candidates = 50)
        .orderBy(col("rrf_score").desc, col("id").asc)
    }),
    // ----- the batched serving shape: three queries ride ONE broadcast
    // frame (terms + vectors — the sim_knn probe-batch pattern), the
    // corpus is scanned once per side, and every rank is per-query
    // partitioned (WindowGroupLimit prunes to C before any shuffle) -----
    "search_hybrid_batch" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      val qv = queryVecs(emb, Seq(0L, 1L, 2L))
      graft.ext.Retrieval.hybridTopKBatch(
          Tables.documents(s, dir), "doc_id", "text",
          emb, "vec_id", "embedding",
          Seq(
            graft.ext.Retrieval.RetrievalQuery(0L,
              Seq("data", "query", "join"), qv(0L)),
            graft.ext.Retrieval.RetrievalQuery(1L,
              Seq("spark", "table", "scan"), qv(1L)),
            graft.ext.Retrieval.RetrievalQuery(2L,
              Seq("stream", "window"), qv(2L))),
          k = 10, candidates = 50)
        .orderBy(col("query_id").asc, col("rrf_score").desc, col("id").asc)
    }),
    // ----- hybrid retrieval over the PERSISTED IVF-PQ index
    // (Retrieval.hybridTopKAnn scaladoc: coarse cells prune the vector
    // arm's scan to nprobe partitions, ADC scores codes, exact rescore
    // ranks the candidates; lexical BM25 + RRF fusion unchanged) — the
    // 100 TB serving topology of search_hybrid, sharing its session-
    // memoized index with sim_ivfpq -----
    "search_hybrid_ann" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      val idx = ivfPqIndexFor(s, dir, emb)
      graft.ext.Retrieval.hybridTopKAnn(
          Tables.documents(s, dir), "doc_id", "text", idx, "vec_id",
          queryTerms = Seq("data", "query", "join"),
          queryVec = queryVec(emb), k = 10, candidates = 50, nprobe = 2)
        .orderBy(col("rrf_score").desc, col("id").asc)
    }),
    // ----- the BATCHED ANN-served hybrid (Retrieval.hybridTopKAnnBatch
    // scaladoc: one partition-pruned IVF-PQ probe per query — batch cost
    // Q x (pruned code scan + k rescores), not Q x corpus; lexical arm
    // and fusion ride search_hybrid_batch's one broadcast query frame) -----
    "search_hybrid_ann_batch" -> ((s: SparkSession, dir: String) => {
      val emb = Tables.embeddings(s, dir)
      val idx = ivfPqIndexFor(s, dir, emb)
      val qv = queryVecs(emb, Seq(0L, 1L, 2L))
      graft.ext.Retrieval.hybridTopKAnnBatch(
          Tables.documents(s, dir), "doc_id", "text", idx, "vec_id",
          Seq(
            graft.ext.Retrieval.RetrievalQuery(0L,
              Seq("data", "query", "join"), qv(0L)),
            graft.ext.Retrieval.RetrievalQuery(1L,
              Seq("spark", "table", "scan"), qv(1L)),
            graft.ext.Retrieval.RetrievalQuery(2L,
              Seq("stream", "window"), qv(2L))),
          k = 10, candidates = 50, nprobe = 2)
        .orderBy(col("query_id").asc, col("rrf_score").desc, col("id").asc)
    }),
    // ----- inverted-index postings: df band [2,50] applied before any
    // posting materializes, lists capped at 10 via WindowGroupLimit -----
    "index_postings" -> ((s: SparkSession, dir: String) =>
      TextStats.postings(Tables.documents(s, dir), "doc_id", "text",
          minDf = 2L, maxDf = 50L, cap = 10)
        .orderBy("term", "slot")),
    // ----- certified count-min sketch: exact top-20 terms probed against
    // the d·w-cell sketch (FreqSketch scaladoc; est ≥ exact always) -----
    "sketch_cms" -> ((s: SparkSession, dir: String) =>
      graft.ext.FreqSketch.estimateTopK(Tables.documents(s, dir), "text",
          k = 20)
        .orderBy(col("exact_cnt").desc, col("term").asc)),
    // ----- sliding-window token chunking (64-token chunks, stride 48) -----
    "text_chunks" -> ((s: SparkSession, dir: String) =>
      TextStats.tokenChunks(Tables.documents(s, dir), "doc_id", "text",
          chunk = 64, stride = 48)
        .orderBy("doc_id", "chunk_idx")),
    // ----- vocabulary fit + token-id encode (TextStats scaladoc: bounded
    // broadcast vocab, corpus never shuffles to encode) -----
    "text_vocab_encode" -> ((s: SparkSession, dir: String) =>
      TextStats.vocabEncode(Tables.documents(s, dir), "doc_id", "text",
          vocabSize = 1000)
        .orderBy("doc_id", "pos")),
    // ----- greedy longest-prefix subword encoding (TextStats
    // .subwordEncode scaladoc: corpus-derived piece vocab, distinct-word
    // tokenizer cache, row-local fold). The natural corpus is a 31-word
    // pool where every word would be its own piece, so compound words
    // glued from corpus terms + digit suffixes are planted (pure doc_id
    // arithmetic the oracle replays) to give the splitter real
    // multi-piece work and exercise the character fallback -----
    "text_subword" -> ((s: SparkSession, dir: String) => {
      val comp = Tables.documents(s, dir).select(concat(col("text"),
        lit(" scancolumn"), (col("doc_id") % 10).cast("string"),
        lit(" columnscan"), (col("doc_id") % 7).cast("string")).as("text"))
      TextStats.subwordEncode(comp, "text", topK = 16)
        .orderBy("word", "piece_pos")
    }),
    // ----- merges-exact BPE (TextStats.bpeEncode scaladoc: corpus-
    // derived merge table, reference iterative min-rank encode; on
    // training words the encode equals the training segmentation, which
    // the oracle replays by unrolling the 8 rounds) -----
    "text_bpe" -> ((s: SparkSession, dir: String) =>
      TextStats.bpeEncode(Tables.documents(s, dir), "text", numMerges = 8)
        .orderBy("word", "piece_pos")),
    // ----- hashing-trick bag-of-words (TextStats.hashVectorize scaladoc:
    // no vocabulary, certified bucket assignment via the portable poly
    // hash) -----
    "text_hashvec" -> ((s: SparkSession, dir: String) =>
      TextStats.hashVectorize(Tables.documents(s, dir), "doc_id", "text",
          buckets = 64)
        .orderBy("doc_id", "bucket")),
    // ----- model-based quality filter (TextStats.modelScore scaladoc:
    // linear-classifier inference over hashing-trick features with the
    // weight lookup as a plan literal — no vector materialized, one
    // scan + one per-doc sum). Planted integer weights
    // w[b] = (b*37) mod 17 − 8 certify the arithmetic; a trained
    // model's quantized weights drop into the same plan -----
    "text_quality_model" -> ((s: SparkSession, dir: String) =>
      TextStats.modelScore(Tables.documents(s, dir), "doc_id", "text",
          weights = (0 until 64).map(b => ((b * 37) % 17 - 8).toLong),
          threshold = 0L)
        .orderBy("doc_id")),
    // ----- language × quality-gate contingency (TextStats
    // .qualityCrosstab scaladoc: scan-side metrics, tiny (lang, kept)
    // groupBy), same thresholds as text_cleanpass -----
    "text_crosstab" -> ((s: SparkSession, dir: String) =>
      TextStats.qualityCrosstab(Tables.documents(s, dir), "doc_id", "text",
          "lang", minChars = 100L, minStopwordRatio = 0.02,
          maxAvgTokenLen = 5.0)
        .orderBy("lang", "kept")),
    // ----- canonical normalization pass over a deterministically-messed
    // variant (mixed case, run-on spaces, a control char) so the cleanup
    // has real work to certify -----
    "text_normalize" -> ((s: SparkSession, dir: String) =>
      TextStats.normalize(
          Tables.documents(s, dir).select(col("doc_id"),
            concat(upper(substring(col("text"), 1, 10)),
              expr("substring(text, 11)"), lit("   PADDED "), lit("\t"),
              lit(" END  ")).as("text")),
          "doc_id", "text")
        .orderBy("doc_id")),
    // ----- C4-style repeated-line removal (TextStats.lineDedup scaladoc:
    // output-bounded boilerplate set, order-preserving reassembly) over
    // the deterministically-lined corpus [[linedDocs]]: planted footer
    // lines plus the corpus's own exact-dup bodies get dropped; the
    // unique %13 lines must survive -----
    "text_linededup" -> ((s: SparkSession, dir: String) =>
      TextStats.lineDedup(linedDocs(s, dir), "doc_id", "text", minDocs = 2)
        .orderBy("doc_id")),
    // ----- token-rarity quality score (TextStats.rarityScore scaladoc:
    // the CCNet LM-filter shape in exact integer ppm — no floats to
    // diverge between engines) -----
    "text_rarity" -> ((s: SparkSession, dir: String) =>
      TextStats.rarityScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // ----- character-trigram LM scoring (TextStats.lmScore scaladoc:
    // the CCNet perplexity-filter stage as an add-one-smoothed ratio
    // of integer sums in fixed point — corpus-trained counts broadcast
    // back, no floats to diverge between engines) -----
    "text_lmscore" -> ((s: SparkSession, dir: String) =>
      TextStats.lmScore(Tables.documents(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // ----- the ROUTED arm forced over the cap (r19 —
    // TextStats.lmScore scaladoc): maxVocab=1 makes every corpus
    // exceed the broadcast budget, so the count-table lookups run as
    // plain shuffle joins — and the integer arithmetic answers the
    // IDENTICAL oracle as text_lmscore, certifying that at 100× the
    // query switches plans instead of refusing -----
    "text_lmscore_big" -> ((s: SparkSession, dir: String) =>
      TextStats.lmScore(Tables.documents(s, dir), "doc_id", "text",
          maxVocab = 1L)
        .orderBy("doc_id")),
    // ----- winnowing fingerprints (TextStats.winnowFingerprints
    // scaladoc: the MOSS local-min selection with the w+k-1 match
    // guarantee; codegen'd sequential gram hashes, row-local sliding
    // min) -----
    "text_winnow" -> ((s: SparkSession, dir: String) =>
      TextStats.winnowFingerprints(Tables.documents(s, dir), "doc_id",
          "text", k = 4, w = 5)
        .orderBy("doc_id", "fp")),
    // ----- PII census + redaction in one codegen projection (Pii
    // scaladoc: portable regex subset, zero shuffles) over the
    // deterministically-decorated corpus [[dirtyDocs]] -----
    "text_pii" -> ((s: SparkSession, dir: String) =>
      graft.ext.Pii.scanRedact(dirtyDocs(s, dir), "doc_id", "text")
        .orderBy("doc_id")),
    // ----- URL host extraction + per-domain mention/doc counts (the one
    // shuffle is the groupBy on host; map-side combine collapses hot
    // hosts before the exchange) -----
    "text_domains" -> ((s: SparkSession, dir: String) =>
      graft.ext.Pii.domainStats(dirtyDocs(s, dir), "doc_id", "text")
        .orderBy(col("n_mentions").desc, col("domain"))),
    // ----- partitioned-layout round trip: write by language, read one
    // language back through partition pruning (plan-asserted in
    // PartitionedSpec — the scan enumerates only the lang=en directory)
    "sink_partitioned" -> ((s: SparkSession, dir: String) => {
      val tmp = scratchDir("graft-part-")
      graft.sources.Partitioned.write(
        Tables.documents(s, dir).select(col("doc_id"), col("lang"),
          col("n_chars")), "lang", tmp)
      graft.sources.Partitioned.read(s, tmp)
        .filter(col("lang") === "en")
        .select(col("doc_id"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // ----- transactional manifest-log table (TxTable scaladoc: atomic
    // create-exclusive publish, snapshot isolation, time travel). The
    // commit sequence overwrite(en) -> append(de) -> overwrite(fr) is
    // replayed as three versioned snapshot reads: v1/v2 prove history
    // stays readable after later commits, v2 proves append accumulates,
    // v3 proves overwrite replaces -----
    "sink_txlog" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-tx-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "en"), tbl, "overwrite")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "de"), tbl, "append")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "fr"), tbl, "overwrite")
      Seq(1L, 2L, 3L).map(v =>
          graft.sources.TxTable.readVersion(s, tbl, v)
            .select(lit(v).as("version"), col("doc_id"), col("lang"),
              col("n_chars")))
        .reduce(_.union(_))
        .orderBy("version", "doc_id")
    }),
    // ----- the SAME three-version history read through PURE SQL: the
    // DSv2 TxCatalog resolves graft_tx.db.t and `VERSION AS OF n` goes
    // through the catalog's time-travel hook — the engine's own table
    // format addressed the way the reference addresses (db, collection),
    // with the scan delegated to Spark's stock parquet path
    // (sources/TxCatalog.scala scaladoc) -----
    "sink_txlog_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      s.sql(
        """SELECT CAST(1 AS BIGINT) AS version, doc_id, lang, n_chars
          |FROM graft_tx.db.t VERSION AS OF 1
          |UNION ALL
          |SELECT CAST(2 AS BIGINT), doc_id, lang, n_chars
          |FROM graft_tx.db.t VERSION AS OF 2
          |UNION ALL
          |SELECT CAST(3 AS BIGINT), doc_id, lang, n_chars
          |FROM graft_tx.db.t VERSION AS OF 3
          |ORDER BY version, doc_id""".stripMargin)
    }),
    // ----- snapshot diff / change-data-feed (TxTable.diff scaladoc:
    // multiset exceptAll both ways, manifests prune to exactly the two
    // snapshots) over the same 3-commit history as sink_txlog: v1→v2 is
    // the de append (inserts only), v2→v3 the fr overwrite (en+de out,
    // fr in) -----
    "ops_txdiff" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-txd-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "en"), tbl, "overwrite")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "de"), tbl, "append")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "fr"), tbl, "overwrite")
      graft.sources.TxTable.diff(s, tbl, 1L, 2L)
        .select(lit("v1v2").as("step"), col("change"), col("doc_id"),
          col("lang"), col("n_chars"))
        .union(graft.sources.TxTable.diff(s, tbl, 2L, 3L)
          .select(lit("v2v3").as("step"), col("change"), col("doc_id"),
            col("lang"), col("n_chars")))
        .orderBy("step", "change", "doc_id")
    }),
    // ----- vacuum / retention (TxTable.vacuum scaladoc: expire all but
    // the newest N manifests, delete only files no retained manifest
    // lists) over the same 3-commit history: retain=2 expires exactly
    // v1, and both retained snapshots must read back intact — the
    // certified output IS the post-vacuum content of v2 and v3 -----
    "ops_vacuum" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-vac-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "en"), tbl, "overwrite")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "de"), tbl, "append")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "fr"), tbl, "overwrite")
      // minAgeMillis=0: this table is quiesced by construction (the
      // three commits above finished before the vacuum starts)
      val stats = graft.sources.TxTable.vacuum(tbl, retain = 2,
        minAgeMillis = 0L)
      Seq(2L, 3L).map(v =>
          graft.sources.TxTable.readVersion(s, tbl, v)
            .select(lit(v).as("version"), col("doc_id"), col("lang"),
              col("n_chars"),
              lit(stats.expiredVersions == Seq(1L)).as("expired_v1")))
        .reduce(_.union(_))
        .orderBy("version", "doc_id")
    }),
    // ----- transactional compaction / OPTIMIZE (TxTable.compact
    // scaladoc: Compaction.plan groups the manifest inventory, one
    // coalesced file per group, committed as a new version) — three
    // append-y commits leave small files; the certified output is the
    // POST-OPTIMIZE snapshot, which must be the identical multiset -----
    "ops_optimize" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-opt-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "en"), tbl, "overwrite")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "de"), tbl, "append")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "fr"), tbl, "append")
      val v = graft.sources.TxTable.compact(s, tbl, targetBytes = 1L << 30)
      graft.sources.TxTable.readVersion(s, tbl, v)
        .select(lit(v).as("version"), col("doc_id"), col("lang"),
          col("n_chars"))
        .orderBy("doc_id")
    }),
    // ----- OCC commit reconciliation (TxTable.publishRebasing): two
    // DETERMINISTIC lost races — an append racing an append, then a
    // compaction racing an append (ConflictInjectingPrimitive lands the
    // competitor during the loser's publish window) — must both
    // auto-rebase onto the new head, so all four slices land with NO
    // caller retry and the maintenance op never kills the writer. The
    // certified output is the final snapshot vs the serial oracle;
    // same-file conflicts still refuse (suite: TxTableSpec) -----
    "ops_concurrent" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-conc-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      def slice(l: String) = docs.filter(col("lang") === l)
      graft.sources.TxTable.commit(slice("en"), tbl, "overwrite")
      // race 1: while the de append publishes, fr lands first
      val p1 = new graft.sources.ConflictInjectingPrimitive(
        graft.sources.PosixLinkPrimitive,
        () => graft.sources.TxTable.commit(slice("fr"), tbl, "append"): Unit)
      graft.sources.TxTable.commit(slice("de"), tbl, "append",
        primitive = p1)
      // race 2: while the compaction publishes, es lands first — the
      // byte-moving rebase keeps the es files verbatim
      val p2 = new graft.sources.ConflictInjectingPrimitive(
        graft.sources.PosixLinkPrimitive,
        () => graft.sources.TxTable.commit(slice("es"), tbl, "append"): Unit)
      val v = graft.sources.TxTable.compact(s, tbl,
        targetBytes = 1L << 30, primitive = p2)
      graft.sources.TxTable.readVersion(s, tbl, v)
        .select(lit(v).as("version"), col("doc_id"), col("lang"),
          col("n_chars"))
        .orderBy("doc_id")
    }),
    // ----- ROW-LEVEL OCC reconciliation (TxTable.rebaseRowLevel —
    // the Delta WriteSerializable shape): two partition-scoped DELETEs
    // race; the loser's read set (its partition's files, selected by
    // the lang min=max stats) is provably disjoint from the winner's
    // touched files AND the winner's rewritten survivors are provably
    // row-free under the loser's predicate, so the loser REBASES and
    // both land — the daily shape on a partitioned 100 TB table.
    // Same-file races still refuse (suite-pinned). The serial oracle
    // applies both predicates. -----
    "ops_concurrent_rowlevel" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-crl-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang").isin("en", "de", "fr")), tbl,
        "overwrite", partitionBy = Some(Seq("lang")))
      import org.apache.spark.sql.sources.{EqualTo, GreaterThan, LessThan}
      // while the de-scoped delete publishes, an en-scoped delete wins
      val p = new graft.sources.ConflictInjectingPrimitive(
        graft.sources.PosixLinkPrimitive,
        () => graft.sources.TxTable.deleteWhere(s, tbl,
          Seq(EqualTo("lang", "en"), LessThan("n_chars", 200))): Unit)
      val v = graft.sources.TxTable.deleteWhere(s, tbl,
        Seq(EqualTo("lang", "de"), GreaterThan("n_chars", 400)),
        primitive = p)
      require(v == 3L,
        s"the partition-disjoint delete must rebase to v3, got v$v")
      graft.sources.TxTable.readVersion(s, tbl, v)
        .select(lit(v).as("version"), col("doc_id"), col("lang"),
          col("n_chars"))
        .orderBy("doc_id")
    }),
    // ----- CHECK constraints through PURE SQL (TxTable scaladoc: the
    // commit-time data-quality gate — TBLPROPERTIES 'check.<name>'
    // registers at CREATE, every write validates BEFORE staging, a
    // violated write never becomes a version; refusals, NULL-passes,
    // rewrite enforcement, and ADD CONSTRAINT are suite-pinned in
    // TxConstraintSpec). The certified output is the constrained
    // table's content after two enforced SQL INSERTs -----
    "sink_txcheck" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txCheckedVersion(s, dir, wh): Unit
      s.sql(
        """SELECT doc_id, lang, n_chars FROM graft_tx.db.chk
          |ORDER BY doc_id""".stripMargin)
    }),
    // ----- the CHECK-constraint lifecycle through PURE SQL (ALTER
    // TABLE SET/UNSET TBLPROPERTIES → TxCatalog.alterTable →
    // TxTable.alterConstraints, one atomic metadata version per
    // statement): register-validate-enforce-withdraw-admit, with a
    // refused INSERT proving the gate mid-lifecycle (fixture pins
    // every version; atomicity + rejection arms in TxConstraintSpec) -----
    "ops_constraint_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txAlteredVersion(s, dir, wh): Unit
      s.sql(
        """SELECT doc_id, lang, n_chars FROM graft_tx.db.altc
          |ORDER BY doc_id""".stripMargin)
    }),
    // ----- metadata-only schema evolution through PURE SQL (ALTER
    // TABLE ADD/DROP COLUMN → TxTable.evolveColumns, one O(1) evolve
    // version, no data moves — the operation a 100 TB table demands):
    // the certified read spans files written under THREE schemas —
    // pre-ADD rows read NULL for the added column, the dropped column
    // projects away everywhere (suite: TxEvolveSpec) -----
    "ops_evolve_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txEvolvedVersion(s, dir, wh): Unit
      s.sql(
        """SELECT doc_id, lang, flag FROM graft_tx.db.evo
          |ORDER BY doc_id""".stripMargin)
    }),
    // ----- OPTIMIZE ZORDER through PURE SQL: the CALL-able procedure
    // surface (TxProcedures.zorder) commits v4 via
    // `CALL graft_tx.system.zorder(...)` and the read is SQL time
    // travel; same oracle shape as ops_zorder_rewrite (the rewrite
    // moves rows between files, never changes them) -----
    "ops_zorder_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txZorderedVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.zord VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- partition-column layout on the tx table: values live in
    // file paths + manifest min=max stats, so partition pruning IS the
    // skipping layer (plan-asserted skipped=2/3 in TxPartitionedSpec);
    // the certified read crosses commit dirs and partition values
    // through the manifest-driven scan, with a partition predicate -----
    "sink_txpart" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txPartitionedVersion(s, dir, wh): Unit
      s.sql(
        """SELECT doc_id, n_chars, lang FROM graft_tx.db.part
          |WHERE lang IN ('en', 'es') ORDER BY doc_id""".stripMargin)
    }),
    // ----- DYNAMIC PARTITION PRUNING on the partitioned tx scan
    // (TxPartitionedScan + SupportsRuntimeV2Filtering): the 100 TB
    // fact-dim join shape — the dim filter's keys come back to the
    // scan at runtime as V2 IN predicates and whole value groups drop
    // BEFORE any parquet footer opens. The gate require-pins BOTH the
    // injected dynamic subquery (plan string) and the pruning EFFECT
    // (the executed scan planned only the matching groups) -----
    "join_dpp" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txPartitionedVersion(s, dir, wh): Unit
      val dim = EntryHelpers.langDimDir(s, wh)
      def q() = s.sql(
        s"""SELECT f.lang, count(*) AS n, sum(f.n_chars) AS chars
           |FROM graft_tx.db.part f
           |JOIN parquet.`$dim` d ON f.lang = d.lang
           |WHERE d.tier = 'major'
           |GROUP BY f.lang ORDER BY f.lang""".stripMargin)
      val probe = q()
      probe.collect(): Unit
      require(probe.queryExecution.executedPlan.toString
          .toLowerCase.contains("dynamicpruning"),
        "expected a dynamic pruning subquery on the partitioned tx scan")
      val scans = EntryHelpers.txPartitionedScans(
        probe.queryExecution.executedPlan)
      require(scans.exists(sc =>
          sc.plannedGroups == 2 && sc.runtimePruned > 0),
        s"expected the scan to plan ONLY the 2 major-tier value groups " +
          s"with files pruned, got " +
          scans.map(sc => (sc.plannedGroups, sc.runtimePruned)).mkString(","))
      q()
    }),
    // ----- DYNAMIC FILE PRUNING on the flat tx scan: same runtime
    // machinery as join_dpp but on a high-cardinality DATA column
    // (doc_id) over an UNPARTITIONED table — min/max rarely proves a
    // file out when ranges interleave, so the per-file BLOOMS carry
    // the pruning (TxFlatScan + TxRuntimeFilter.survivors) -----
    "join_dfp" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val dim = EntryHelpers.txDfpDimDir(s, dir, wh)
      def q() = s.sql(
        s"""SELECT f.doc_id, f.lang, f.n_chars FROM graft_tx.db.dfp f
           |JOIN parquet.`$dim` d ON f.doc_id = d.doc_id
           |WHERE d.grp = 'a'
           |ORDER BY f.doc_id""".stripMargin)
      val probe = q()
      probe.collect(): Unit
      require(probe.queryExecution.executedPlan.toString
          .toLowerCase.contains("dynamicpruning"),
        "expected a dynamic pruning subquery on the flat tx scan")
      val scans = EntryHelpers.txFlatScans(
        probe.queryExecution.executedPlan)
      require(scans.exists(_.runtimePruned >= 1),
        "expected runtime file pruning (the probed doc_ids are all en " +
          "— the de/fr files' blooms prove them out), got " +
          scans.map(_.runtimePruned).mkString(","))
      q()
    }),
    // ----- DYNAMIC PARTITION OVERWRITE (INSERT OVERWRITE under
    // partitionOverwriteMode=dynamic → one `dynoverwrite` commit via
    // the RowLevelRule conversion): only the fr partition reloads; the
    // en/de files carry forward verbatim (fixture-pinned on the
    // manifest) — the daily-partition-reload shape at 100 TB -----
    "ops_dynoverwrite" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txDynVersion(s, dir, wh): Unit
      s.sql(
        """SELECT doc_id, lang, n_chars FROM graft_tx.db.dyn
          |ORDER BY doc_id""".stripMargin)
    }),
    // ----- NULL-COUNT FILE SKIPPING (ColStat.nulls/rows): IS NOT NULL
    // proves out the all-null en file before any footer opens; the
    // kept-path count is require-pinned from the manifest's own
    // excludes decision, and the certified read is the surviving
    // non-null rows vs the DuckDB replay -----
    "ops_nullskip" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val tbl = s"$wh/db/nul"
      if (graft.sources.TxTable.latestVersion(tbl).isEmpty) {
        // en: score all NULL; de: null-free; fr: mixed by doc_id parity
        graft.sources.TxTable.commit(
          docs.filter(col("lang") === "en").select(col("doc_id"),
            lit(null).cast("long").as("score")), tbl, "overwrite")
        graft.sources.TxTable.commit(
          docs.filter(col("lang") === "de").select(col("doc_id"),
            col("n_chars").as("score")), tbl, "append")
        graft.sources.TxTable.commit(
          docs.filter(col("lang") === "fr").select(col("doc_id"),
            when(col("doc_id") % 2 === 0, col("n_chars")).as("score")),
          tbl, "append")
      }
      val m = graft.sources.TxTable.readManifest(
        java.nio.file.Paths.get(tbl),
        graft.sources.TxTable.headVersion(tbl))
      val schemaN = m.schema
      val kept = m.files.count(f => !graft.sources.TxStats.excludes(
        m.stats.getOrElse(f, Map.empty), schemaN,
        org.apache.spark.sql.sources.IsNotNull("score")))
      require(kept < m.files.size,
        "the all-null en file(s) must be provably excludable")
      val probe = s.sql(
        "SELECT doc_id FROM graft_tx.db.nul WHERE score IS NOT NULL")
      require(probe.queryExecution.executedPlan.toString
          .contains(s"InMemoryFileIndex($kept paths)"),
        "IS NOT NULL must prune the all-null files through the " +
          "recorded null counts")
      s.sql(
        """SELECT doc_id, score FROM graft_tx.db.nul
          |WHERE score IS NOT NULL ORDER BY doc_id""".stripMargin)
    }),
    // ----- PREDICATE-SCOPED OVERWRITE (Delta's replaceWhere, SQL
    // surface: INSERT OVERWRITE with a static PARTITION spec → ONE
    // atomic replacewhere commit; incoming rows outside the predicate
    // refuse; untouched partitions' files carry verbatim,
    // fixture-pinned) — the backfill-a-range shape -----
    "ops_replacewhere" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txRpwVersion(s, dir, wh): Unit
      s.sql(
        """SELECT doc_id, lang, n_chars FROM graft_tx.db.rpw
          |ORDER BY doc_id""".stripMargin)
    }),
    // ----- partition-column aggregates from the MANIFEST (+ footer
    // row counts): MIN/MAX over a partition column read the value
    // layout — zero data bytes — and COUNT sums footer counts; the
    // LocalScan plan is require-pinned so a regression to a data scan
    // fails the gate (closes the partition-column refusal the footer
    // delegation left) -----
    "count_tx_partcol" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txPartitionedVersion(s, dir, wh): Unit
      EntryHelpers.withSqlConf(s,
        "spark.sql.parquet.aggregatePushdown" -> "true") {
        val df = s.sql(
          """SELECT count(*) AS n, count(lang) AS nl,
            |  min(lang) AS min_lang, max(lang) AS max_lang
            |FROM graft_tx.db.part""".stripMargin)
        val plan = df.queryExecution.executedPlan.toString
        require(plan.contains("LocalTableScan") ||
            plan.contains("agg=manifest-partition-values"),
          "partition-column aggregate did not serve from the manifest")
        require(!plan.contains("ParquetScan"),
          "partition-column aggregate scanned data")
        df
      }
    }),
    // ----- partition-level metadata table `t$partitions` (Iceberg's
    // partitions metadata view): one row per live value tuple with
    // file count, row count (manifest stats), and bytes — the operator
    // view for choosing compaction/zorder targets and spotting skew,
    // served as a LocalScan (plan-pinned) with zero data read. The
    // fixture's one-file-per-lang layout is deterministic
    // (EntryHelpers.txPmetaVersion), so the oracle replays n_files
    // exactly; bytes are storage-dependent and pinned positive here
    // rather than hash-compared -----
    "ops_partitions_meta" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txPmetaVersion(s, dir, wh): Unit
      val full = s.sql(
        """SELECT part, n_files, n_rows, bytes
          |FROM graft_tx.db.`pmeta$partitions` ORDER BY part""".stripMargin)
      require(full.queryExecution.executedPlan.toString
          .contains("LocalTableScan"),
        "t$partitions must serve as a LocalTableScan — driver " +
          "metadata, never a distributed job")
      val rows = full.collect()
      require(rows.nonEmpty && rows.forall(r => r.getLong(3) > 0L),
        "every live partition holds bytes on disk")
      full.select(col("part"), col("n_files"), col("n_rows"))
    }),
    // ----- STORAGE-PARTITIONED JOIN (TxPartitionedScan reporting
    // KeyGroupedPartitioning): two lang-partitioned tx tables join AND
    // aggregate on lang with ZERO shuffles under v2.bucketing — at
    // 100 TB the co-partitioned join's exchange would move the whole
    // table; the probe require-pins its absence. The certified read
    // re-runs under default confs (same rows, any plan) -----
    // ----- HIDDEN-PARTITIONING BUCKET SPJ (TxTransforms scaladoc):
    // two tables `PARTITIONED BY (bucket(8, doc_id))` — the layout
    // derived at stage time, no materialized bucket column — join on
    // the SOURCE column with zero exchanges: the scans report
    // KeyGroupedPartitioning over the bucket transform and the
    // catalog's V2 bucket function lets Spark align the groups -----
    "join_spj_bucket" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txBucketVersion(s, dir, wh): Unit
      EntryHelpers.withSqlConf(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val probe = s.sql(
          """SELECT a.doc_id, a.n_chars, b.lang
            |FROM graft_tx.db.bka a
            |JOIN graft_tx.db.bkb b ON a.doc_id = b.doc_id""".stripMargin)
        probe.collect(): Unit
        val sh = EntryHelpers.shuffleNodes(
          probe.queryExecution.executedPlan)
        require(sh.isEmpty,
          s"expected a zero-exchange bucket-transform SPJ, found " +
            s"${sh.size} exchange(s):\n" +
            probe.queryExecution.executedPlan)
        s.sql(
          """SELECT a.doc_id, a.n_chars, b.lang
            |FROM graft_tx.db.bka a
            |JOIN graft_tx.db.bkb b ON a.doc_id = b.doc_id
            |ORDER BY a.doc_id""".stripMargin)
      }
    }),
    // ----- days(ts) hidden partitioning: a timestamp range prunes
    // whole day directories at PLANNING through the projected day
    // bounds (TxTransforms.projectFilter — incl. the exact-midnight
    // strict-bound tightening); the kept-path count is plan-pinned -----
    "scan_days_prune" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txDaysVersion(s, dir, wh): Unit
      val df = s.sql(
        """SELECT event_id, user_id FROM graft_tx.db.evd
          |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
          |ORDER BY event_id""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("skipped=") && !plan.contains("skipped=0/"),
        s"the day-projected range must prune day directories at " +
          s"planning:\n${plan.take(800)}")
      df
    }),
    // ----- checkpoint repair + log health (r19): periodic checkpoints
    // that never fired leave a delta-replay tail `t$log` reports;
    // `CALL system.checkpoint` bounds it — the pre-repair staleness is
    // require-pinned in the fixture, the certified row is the repaired
    // summary -----
    "ops_txlog_meta" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txLogMetaVersion(s, dir, wh): Unit
      s.sql(
        """SELECT latest_version, checkpoint_version, replay_deltas
          |FROM graft_tx.db.`lmt$log`""".stripMargin)
    }),
    // ----- raw TIMESTAMP column stats (r20): an UNPARTITIONED tx
    // events table, files range-clustered on ts — a raw ts range
    // predicate proves files out at planning through the INT64-micros
    // footer min/max recorded at commit, no days/hours relayout
    // needed; kept-path plan-pinned like the transform arms -----
    "scan_ts_prune" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txTsVersion(s, dir, wh): Unit
      val df = s.sql(
        """SELECT event_id, user_id FROM graft_tx.db.evt
          |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
          |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
          |ORDER BY event_id""".stripMargin)
      // flat scans surface the kept set as the delegated parquet scan's
      // file index (the skipped= tag prints on partitioned scans only):
      // the fixture stages 8 range-disjoint files, the 2-day window
      // must keep strictly fewer
      val plan = df.queryExecution.executedPlan.toString
      val keptPaths = "InMemoryFileIndex\\((\\d+) paths\\)".r
        .findFirstMatchIn(plan).map(_.group(1).toInt)
      require(keptPaths.exists(n => n >= 1 && n < 8),
        s"a raw ts range on an unpartitioned table must prune files " +
          s"through timestamp stats at planning (kept=$keptPaths of " +
          s"8):\n${plan.take(800)}")
      df
    }),
    // ----- hours(ts) hidden partitioning (r19 — the complete Iceberg
    // time-grain set): an hour-range predicate over one day of events
    // prunes whole hour directories at planning; kept-path plan-pinned
    // like the days arm -----
    "scan_hours_prune" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txHoursVersion(s, dir, wh): Unit
      val df = s.sql(
        """SELECT event_id, user_id FROM graft_tx.db.evh
          |WHERE ts >= TIMESTAMP '2024-01-10 05:00:00'
          |  AND ts < TIMESTAMP '2024-01-10 08:00:00'
          |ORDER BY event_id""".stripMargin)
      val plan = df.queryExecution.executedPlan.toString
      require(plan.contains("skipped=") && !plan.contains("skipped=0/"),
        s"the hour-projected range must prune hour directories at " +
          s"planning:\n${plan.take(800)}")
      df
    }),
    "join_spj" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txSpjVersion(s, dir, wh): Unit
      // the certified read itself runs under the SPJ confs (scoped —
      // withSqlConf materializes before restoring) with the exchange
      // count pinned on the pre-sort subplan
      EntryHelpers.withSqlConf(s,
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.enabled" -> "false") {
        val probe = s.sql(
          """SELECT f.lang, count(*) AS n
            |FROM graft_tx.db.part f
            |JOIN graft_tx.db.partw d ON f.lang = d.lang
            |GROUP BY f.lang""".stripMargin)
        probe.collect(): Unit
        val sh = EntryHelpers.shuffleNodes(
          probe.queryExecution.executedPlan)
        require(sh.isEmpty,
          s"expected a shuffle-free storage-partitioned join + " +
            s"aggregation, found ${sh.size} exchange(s):\n" +
            probe.queryExecution.executedPlan)
        s.sql(
          """SELECT f.lang, count(*) AS n, sum(f.n_chars) AS chars,
            |  max(d.docs) AS dim_docs
            |FROM graft_tx.db.part f
            |JOIN graft_tx.db.partw d ON f.lang = d.lang
            |GROUP BY f.lang ORDER BY f.lang""".stripMargin)
      }
    }),
    // ----- OPTIMIZE ZORDER as a real rewrite (TxTable.compactZOrder
    // scaladoc: Morton key as a scan-side codegen projection, one
    // sampled range shuffle clusters rows into 2-D tiles, fresh stats +
    // blooms, OCC publish). Rows move between files, never change — the
    // certified output is the post-rewrite snapshot, which must be the
    // IDENTICAL multiset; the skipping improvement is suite-asserted in
    // TxTableSpec -----
    "ops_zorder_rewrite" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-zord-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "en"), tbl, "overwrite")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "de"), tbl, "append")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "fr"), tbl, "append")
      val v = graft.sources.TxTable.compactZOrder(s, tbl,
        "doc_id", "n_chars", numFiles = 4)
      graft.sources.TxTable.readVersion(s, tbl, v)
        .select(lit(v).as("version"), col("doc_id"), col("lang"),
          col("n_chars"))
        .orderBy("doc_id")
    }),
    // ----- predicate-scoped compaction (the Delta OPTIMIZE WHERE
    // shape; TxTable.compact scaladoc): one language per commit gives
    // per-file min=max lang stats, so scope lang='de' rewrites ONLY the
    // de files — en/fr carry forward verbatim with stats and blooms
    // (require-pinned), rows unchanged either way -----
    "ops_compact_where" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-cmpw-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "en"), tbl, "overwrite")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "de"), tbl, "append")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "fr"), tbl, "append")
      val root = java.nio.file.Paths.get(tbl)
      val m3 = graft.sources.TxTable.readManifest(root, 3L)
      val v = graft.sources.TxTable.compact(s, tbl,
        targetBytes = 1L << 30,
        scope = Seq(org.apache.spark.sql.sources.EqualTo("lang", "de")))
      val m4 = graft.sources.TxTable.readManifest(root, v)
      val deFiles = m3.files.filter(f =>
        m3.stats.get(f).exists(_.get("lang").exists(_.min == "de")))
      val carried = m3.files.filterNot(deFiles.contains)
      require(carried.forall(f => m4.files.contains(f) &&
          m4.stats.get(f) == m3.stats.get(f)) &&
          deFiles.forall(f => !m4.files.contains(f)),
        "scoped compact must rewrite exactly the de files")
      graft.sources.TxTable.readVersion(s, tbl, v)
        .select(lit(v).as("version"), col("doc_id"), col("lang"),
          col("n_chars"))
        .orderBy("doc_id")
    }),
    // ----- N-dimensional z-order (TxTable.compactZOrderBy scaladoc:
    // the round-robin Morton interleave at arity 3 — every rewritten
    // file is one tile bounded in ALL THREE dimensions, so manifest
    // stats prune on any of the three predicates; rows unchanged,
    // gate-certified identical multiset) -----
    "ops_zorder3" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-zord3-") + "/tbl"
      val ev = Tables.events(s, dir).select(col("event_id"),
        col("user_id"),
        expr("CAST(floor(value * 1000) AS BIGINT)").as("v_milli"))
      graft.sources.TxTable.commit(
        ev.filter(col("event_id") % 2 === 0), tbl, "overwrite")
      graft.sources.TxTable.commit(
        ev.filter(col("event_id") % 2 === 1), tbl, "append")
      val v = graft.sources.TxTable.compactZOrderBy(s, tbl,
        Seq("event_id", "user_id", "v_milli"), numFiles = 4)
      graft.sources.TxTable.readVersion(s, tbl, v)
        .select(lit(v).as("version"), col("event_id"), col("user_id"),
          col("v_milli"))
        .orderBy("event_id")
    }),
    // ----- predicate-scoped ZORDER inside a hidden days(ts) layout
    // (r19 — the Delta `OPTIMIZE WHERE … ZORDER BY` shape on the most
    // common 100 TB layout): only the scoped day's files rewrite into
    // 2-D tiles, every other day carries VERBATIM with identical stats
    // (require-pinned); the 2-D box probe inside the day keeps strictly
    // fewer candidate files after (require-pinned; the ≤-half bound is
    // suite-asserted on a controlled fixture in TxTransformSpec). Rows
    // never change — the certified output is the post-rewrite snapshot,
    // hash-matched to the raw-events replay -----
    "ops_zorder_part" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-zordp-") + "/tbl"
      // a BOUNDED day-slice of events: the operator contract (scoped
      // rewrite + verbatim carry + box narrowing) certifies identically
      // on 8 live days as on 30, at a quarter of the commit bytes — the
      // fixture is the cost, not the operator (r19 bench finding)
      val ev = Tables.events(s, dir)
        .where(expr("ts >= TIMESTAMP '2024-01-08 00:00:00' AND " +
          "ts < TIMESTAMP '2024-01-16 00:00:00'"))
        .select(col("event_id"), col("ts"),
          col("user_id"), (col("user_id") % 256).as("uq"),
          (expr("CAST(floor(value * 1000) AS BIGINT)") % 256).as("vq"))
      val spec = Seq(graft.sources.TxTransforms.PartitionField(
        "ts_day", "days", "ts"))
      // four interleaved commits → four files per live day (optimized
      // write: one per day per commit), each spanning nearly the full
      // (uq, vq) plane — the worst case for a 2-D probe
      graft.sources.TxTable.commit(ev.filter(col("event_id") % 4 === 0),
        tbl, "overwrite", partitionSpec = Some(spec))
      (1 to 3).foreach(k => graft.sources.TxTable.commit(
        ev.filter(col("event_id") % 4 === k), tbl, "append"): Unit)
      val root = java.nio.file.Paths.get(tbl)
      val m4 = graft.sources.TxTable.readManifest(root, 4L)
      // scope boundaries from EPOCH ARITHMETIC, never Timestamp.valueOf
      // local-time parsing: ts_day ordinals are UTC-fixed, and on a
      // non-UTC host a local-midnight scope would straddle two ts_day
      // directories and fail the verbatim-carry pin below
      val dayOrd = java.time.LocalDate.of(2024, 1, 10).toEpochDay
      val scope: Seq[org.apache.spark.sql.sources.Filter] = Seq(
        org.apache.spark.sql.sources.GreaterThanOrEqual("ts",
          new java.sql.Timestamp(dayOrd * 86400000L)),
        org.apache.spark.sql.sources.LessThan("ts",
          new java.sql.Timestamp((dayOrd + 1) * 86400000L)))
      // the box probe's candidate count against a manifest — the same
      // stats/projection walk the scan's skip layer runs
      def kept(m: graft.sources.TxTable.Manifest): Int = {
        val schema = m.schema
        val box = scope ++ Seq(
          org.apache.spark.sql.sources.LessThan("uq", 64L),
          org.apache.spark.sql.sources.LessThan("vq", 64L))
        val lst = graft.sources.TxTable.logicalStats(m)
        val sch = graft.sources.TxTransforms.skipSchema(schema, m)
        val proj = graft.sources.TxTransforms.withProjections(box, m)
        m.files.count { f =>
          !proj.exists(fl => graft.sources.TxStats.excludes(
            lst.getOrElse(f, Map.empty), sch, fl))
        }
      }
      val keptBefore = kept(m4)
      require(keptBefore >= 4,
        s"fixture must start unprunable inside the day: $keptBefore")
      val v = graft.sources.TxTable.compactZOrderWhere(s, tbl,
        Seq("uq", "vq"), scope, numFiles = 8, bits = 8)
      val mz = graft.sources.TxTable.readManifest(root, v)
      // the scoped day's files carry the same UTC ordinal in their path
      val otherBefore = m4.files.filterNot(_.contains(s"ts_day=$dayOrd"))
      require(otherBefore.nonEmpty &&
          otherBefore.forall(f => mz.files.contains(f) &&
            mz.stats.get(f) == m4.stats.get(f)),
        "out-of-scope day directories must carry forward verbatim")
      require(kept(mz) < keptBefore,
        s"scoped zorder must narrow the box: ${kept(mz)} vs $keptBefore")
      graft.sources.TxTable.readVersion(s, tbl, v)
        .select(col("event_id"), col("user_id"), col("uq"), col("vq"))
        .orderBy("event_id")
    }),
    // ----- snapshot TAGS (r20 — Iceberg refs): v2 pinned under
    // 'pre_fr' through CALL system.tag, a retain=1 vacuum that would
    // otherwise expire v1+v2 stops at exactly v1 (require-pinned), and
    // the certified read resolves the tag BY NAME through SQL time
    // travel (`VERSION AS OF 'pre_fr'`) -----
    "ops_tags" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txTagsVersion(s, dir, wh): Unit
      s.sql(
        """SELECT doc_id, lang, n_chars
          |FROM graft_tx.db.tgq VERSION AS OF 'pre_fr'
          |ORDER BY doc_id""".stripMargin)
    }),
    // ----- zero-copy SHALLOW CLONE (r20 — TxTable.cloneSnapshot): the
    // clone's v1 REFERENCES the source snapshot's files absolutely,
    // copying nothing (require-pinned: no data/ dir after the clone,
    // stats carried); the clone then evolves independently (a local
    // append the source never sees — require-pinned) and the certified
    // output is the evolved clone, hash-matched to the replayed union -----
    "ops_clone" -> ((s: SparkSession, dir: String) => {
      val base = scratchDir("graft-clone-")
      val src = base + "/src"
      val dst = base + "/dst"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "en"), src, "overwrite")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "de"), src, "append")
      require(graft.sources.TxTable.cloneSnapshot(src, dst) == 1L)
      require(!java.nio.file.Files.exists(
          java.nio.file.Paths.get(dst).resolve("data")),
        "clone materialized data files — it must be metadata-only")
      val m = graft.sources.TxTable.readManifest(
        java.nio.file.Paths.get(dst), 1L)
      require(m.files.nonEmpty && m.stats.nonEmpty &&
          m.files.forall(f => java.nio.file.Paths.get(f).isAbsolute),
        "clone must carry absolute file references plus their stats")
      // independent evolution: the clone gains fr locally; the source's
      // log never moves
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "fr"), dst, "append")
      require(graft.sources.TxTable.latestVersion(src).contains(2L),
        "the clone's append leaked into the source's log")
      graft.sources.TxTable.read(s, dst)
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("doc_id")
    }),
    // ----- schema evolution certified end-to-end: an opted-in
    // mergeSchema append widens the table by-name (old rows read NULL
    // for the new column, the appended frame NULL for the one it
    // dropped) and the evolved snapshot hash-matches an oracle that
    // replays the union from the commit definitions -----
    "sink_txevolve" -> ((s: SparkSession, dir: String) => {
      val tbl = scratchDir("graft-txe-") + "/tbl"
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "en"), tbl, "overwrite")
      graft.sources.TxTable.commit(
        docs.filter(col("lang") === "de")
          .withColumn("flagged", col("n_chars") > 500)
          .drop("n_chars"),
        tbl, "append", mergeSchema = true)
      graft.sources.TxTable.read(s, tbl)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("flagged"))
        .orderBy("doc_id")
    }),
    // ----- OPTIMIZE through PURE SQL: the CALL-able procedure surface
    // certified by the driver gate — compaction commits v4 via
    // `CALL graft_tx.system.compact(...)` and the read is SQL time
    // travel; same oracle shape as ops_optimize (compaction moves
    // bytes, never rows) -----
    "ops_optimize_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txOptCompactedVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.opt VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- row-level SQL DELETE as a copy-on-write commit (TxTable
    // .deleteWhere scaladoc: the skipping layer decides which files can
    // hold matches — provably-untouched files carry forward verbatim,
    // only the de files rewrite; suite-pinned in TxCatalogSpec). The
    // certified output is the post-delete snapshot read back through
    // SQL time travel; v1-v3 stay readable, the delete is one more
    // version -----
    "ops_delete_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txDeletedVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.del VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- row-level SQL UPDATE as a stats-pruned copy-on-write commit
    // (TxRowLevel scaladoc: the WHERE clause's conjuncts run against the
    // manifest min/max stats and blooms, so with one language per commit
    // only the de files rewrite — en/fr carry forward verbatim). The
    // certified output is the post-update snapshot via SQL time travel -----
    "ops_update_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txUpdatedVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.upd VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- SQL MERGE INTO: one statement exercises all three ANSI clause
    // classes against the en+de+fr target — fr rows take the conditional
    // DELETE or the UPDATE (first-match-wins), es rows INSERT, en/de rows
    // pass through untouched (TxRowLevel scaladoc: candidate files come
    // from the ON equi-conjunct bounded by the source's measured min/max) -----
    "ops_merge_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txMergedVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.mrg VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- ALTER TABLE RENAME COLUMN through the column mapping
    // (TxTable.renameColumn scaladoc: one metadata version, zero data
    // movement — files keep their bytes, stats their physical keys).
    // The fixture renames `lang` → `language` mid-history and INSERTs
    // the es slice AFTER the rename (staged under the ORIGINAL
    // physical name), so the certified read spans files on both sides
    // of the rename; the gate require-pins that a predicate on the
    // RENAMED column still skips files (stats survive) -----
    "ops_rename_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txRenamedVersion(s, dir, wh)
      val m = graft.sources.TxTable.readManifest(
        java.nio.file.Paths.get(s"$wh/db/ren"), v)
      // expected skip count from the manifest itself: files whose
      // PHYSICAL-keyed lang stat can hold 'de' are the only candidates
      val deN = m.files.count(f => m.stats.get(f)
        .flatMap(_.get("lang"))
        .exists(cs => cs.min <= "de" && cs.max >= "de"))
      val probe = s.sql(
        "SELECT doc_id FROM graft_tx.db.ren WHERE language = 'de'")
      require(probe.queryExecution.executedPlan.toString
          .contains(s"skipped=${m.files.size - deN}/${m.files.size}"),
        "post-rename predicate must still prune files through the " +
          "physical-keyed stats")
      s.sql(
        """SELECT doc_id, language, n_chars FROM graft_tx.db.ren
          |ORDER BY doc_id""".stripMargin)
    }),
    // ----- ALTER TABLE ALTER COLUMN TYPE (type widening): one
    // metadata version (TxTable.widenColumn — files keep their int32
    // bytes, reads promote through the parquet read schema), then an
    // INSERT of values beyond Int.MaxValue that only the widened type
    // can hold. The gate require-pins that a LONG-literal predicate
    // still prunes the narrow pre-widen files through their
    // int-recorded stats — the exactness contract of the widen -----
    "ops_widen_sql" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txWidenedVersion(s, dir, wh)
      val m = graft.sources.TxTable.readManifest(
        java.nio.file.Paths.get(s"$wh/db/wid"), v)
      // pre-widen files' int stats cannot reach 3e9: every one skips,
      // so the planned scan's file index holds exactly the kept files
      val schemaW = m.schema
      val kept = m.files.count(f => !graft.sources.TxStats.excludes(
        m.stats.getOrElse(f, Map.empty), schemaW,
        org.apache.spark.sql.sources.GreaterThan("n_chars",
          java.lang.Long.valueOf(3000000000L))))
      require(kept < m.files.size,
        "fixture must leave at least one prunable narrow file")
      val probe = s.sql(
        "SELECT doc_id FROM graft_tx.db.wid WHERE n_chars > 3000000000")
      require(probe.queryExecution.executedPlan.toString
          .contains(s"InMemoryFileIndex($kept paths)"),
        "post-widen long predicate must still prune the narrow files " +
          "through their int-recorded stats")
      s.sql(
        """SELECT doc_id, lang, n_chars FROM graft_tx.db.wid
          |ORDER BY doc_id""".stripMargin)
    }),
    // ----- MERGE WITH SCHEMA EVOLUTION (the CDC-ingest shape): the
    // source carries a NEW column, the capability-gated analyzer path
    // commits a metadata-only evolve (v3) through the same nullable-ADD
    // contract appends use, and the merge (v4) rewrites against the
    // evolved schema — pre-merge en rows read NULL for the new column,
    // updated de rows and inserted fr rows carry it
    // (EntryHelpers.txMergeEvolvedVersion pins the op history) -----
    "ops_merge_evolve" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txMergeEvolvedVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars,
           |  score
           |FROM graft_tx.db.mrgevo VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- MERGE WITH SCHEMA EVOLUTION on a PARTITIONED target
    // (TxRowLevel.RowLevelRule: the engine evolves position-blind —
    // Spark's own path is positional and withheld): score slots BEFORE
    // the lang partition column, star actions extend by name, pre-merge
    // en rows read NULL, updated de / inserted fr rows carry it -----
    "ops_merge_evolve_part" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txMergeEvolvedPartVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars,
           |  score
           |FROM graft_tx.db.mrgevop VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- whole-table aggregates answered from parquet FOOTERS: the
    // tx scan delegates DSv2 aggregate pushdown to the stock parquet
    // builder over the snapshot's file list (TxScanBuilder scaladoc) —
    // the query require-pins the plan (PushedAggregation non-empty), so
    // a regression to a data scan fails the GATE, not just the suite -----
    "count_tx_footer" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txOptCompactedVersion(s, dir, wh): Unit
      // withSqlConf materializes under the enabled conf and hands the
      // gate a local frame — the conf must not leak into other queries
      EntryHelpers.withSqlConf(s,
        "spark.sql.parquet.aggregatePushdown" -> "true") {
        val df = s.sql(
          """SELECT count(*) AS n, min(doc_id) AS min_id,
            |  max(doc_id) AS max_id FROM graft_tx.db.opt""".stripMargin)
        require(df.queryExecution.executedPlan.toString
          .contains("PushedAggregation: [COUNT"),
          "tx whole-table aggregate did not push to parquet footers")
        df
      }
    }),
    // ----- footer aggregates on a PARTITIONED snapshot — the most
    // common 100 TB table shape: a GLOBAL data-column aggregate is
    // grouping-blind, so the tx scan delegates it to ONE stock parquet
    // builder over every file's DATA schema (TxScanBuilder scaladoc)
    // instead of refusing because the per-group reader wrapper cannot
    // carry it. Plan-pinned in the gate like count_tx_footer -----
    "count_tx_footer_part" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      EntryHelpers.txPartitionedVersion(s, dir, wh): Unit
      EntryHelpers.withSqlConf(s,
        "spark.sql.parquet.aggregatePushdown" -> "true") {
        val df = s.sql(
          """SELECT count(*) AS n, min(doc_id) AS min_id,
            |  max(doc_id) AS max_id FROM graft_tx.db.part""".stripMargin)
        require(df.queryExecution.executedPlan.toString
          .contains("PushedAggregation: [COUNT"),
          "partitioned tx whole-table aggregate did not push to " +
            "parquet footers")
        df
      }
    }),
    // ----- merge-on-read DELETE via deletion vectors: the table opts
    // in with tx.deletionVectors=true, so DELETE writes a (file, pos)
    // tombstone sidecar and v4's DATA FILES ARE UNCHANGED (fixture
    // require-pins that) — cost ∝ deleted rows, not touched-file
    // bytes, the 100 TB delete shape. The certified read is the
    // DV-aware SQL scan (DvReadRule anti-joins the tombstones) -----
    "ops_delete_mor" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val (v4, _) = EntryHelpers.txMorVersions(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v4 AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.mor VERSION AS OF $v4
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- merge-on-read UPDATE: on the DV-opted table the SQL UPDATE
    // tombstones exactly the matched de rows and appends ONLY their
    // updated copies — every pre-update file carries forward verbatim
    // (fixture require-pins that). Cost ∝ updated rows, not
    // touched-file bytes; same oracle shape as the CoW ops_update_sql -----
    "ops_update_mor" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txMorUpdatedVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.morupd VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- merge-on-read MERGE: the three-clause ANSI merge on the
    // DV-opted table — affected fr rows tombstone (conditional DELETE
    // or UPDATE), their copies + es inserts append, every pre-merge
    // file carries verbatim (fixture require-pins that); same oracle
    // shape as the CoW ops_merge_sql -----
    "ops_merge_mor" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txMorMergedVersion(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.mormrg VERSION AS OF $v
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- batch change-data-feed (the Delta table_changes shape):
    // every row that logically entered or left the table across the
    // fixture's four versions, typed and version-tagged — inserts read
    // directly, the MoR delete's rows served from its own sidecar
    // (left-semi over affected files only), the MoR update as a
    // pre/postimage pair; cost bounded by changed files, never table
    // size (TxChanges scaladoc) -----
    "ops_txchanges" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val v = EntryHelpers.txChangesVersion(s, dir, wh)
      graft.sources.TxChanges.between(s, s"$wh/db/chg", 0L, v)
        .select(col("_commit_version"), col("_change_type"),
          col("doc_id"), col("lang"), col("n_chars"))
        .orderBy("_commit_version", "_change_type", "doc_id")
    }),
    // ----- the purge that follows: tombstones folded back into a clean
    // layout (ONLY the de-bearing files rewrote; dvDirs empty,
    // fixture-pinned), content identical to the MoR view of v4 -----
    "ops_purge_dv" -> ((s: SparkSession, dir: String) => {
      val wh = EntryHelpers.txCatalogWarehouse(s, dir)
      val (_, v5) = EntryHelpers.txMorVersions(s, dir, wh)
      s.sql(
        s"""SELECT CAST($v5 AS BIGINT) AS version, doc_id, lang, n_chars
           |FROM graft_tx.db.mor VERSION AS OF $v5
           |ORDER BY doc_id""".stripMargin)
    }),
    // ----- JSONL codec round trip: events (incl. the JSON-in-string
    // props column — the quoting torture case) serialized to JSON lines
    // and read back schema-enforced; hash-matching the oracle on the
    // ORIGINAL table certifies the codec end to end -----
    "source_jsonl" -> ((s: SparkSession, dir: String) => {
      val tmp = scratchDir("graft-jsonl-")
      graft.sources.JsonLines.roundTrip(
        Tables.events(s, dir).select(col("event_id"), col("user_id"),
          col("event_type"),
          floor(col("value") * 100 + 0.5).cast("long").as("value_c"),
          col("props")), tmp)
        .orderBy("event_id")
    }),
    // ----- ORC round trip: the second columnar interchange format,
    // certified the same way as JSONL — write, schema-enforced re-read,
    // hash-match vs the oracle on the original parquet -----
    "source_orc" -> ((s: SparkSession, dir: String) => {
      val tmp = scratchDir("graft-orc-")
      graft.sources.OrcTable.roundTrip(
        Tables.documents(s, dir).select(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")), tmp)
        .orderBy("doc_id")
    }),
    // ----- interval×interval overlap join: 60-min view/click windows
    // per user (RangeJoin.intervalOverlap scaladoc: first-shared-bucket
    // trick — every pair meets exactly once, no post-join distinct) -----
    "join_overlap" -> ((s: SparkSession, dir: String) => {
      val e = Tables.events(s, dir)
      def win(t: String, idAs: String, keyAs: String, sAs: String,
              eAs: String) =
        e.filter(col("event_type") === t).select(
          col("event_id").as(idAs), col("user_id").as(keyAs),
          col("ts").as(sAs),
          (col("ts") + expr("INTERVAL 60 MINUTES")).as(eAs))
      graft.ext.RangeJoin.intervalOverlap(
          win("view", "v_id", "v_user", "v_start", "v_end"),
          win("click", "c_id", "c_user", "c_start", "c_end"),
          "v_user", "c_user", "v_start", "v_end", "c_start", "c_end",
          bucketSeconds = 3600L)
        .select(col("v_id"), col("c_id"))
        .orderBy("v_id", "c_id")
    }),
    // ----- referential-integrity audit: orphan counts per relationship
    // (Integrity scaladoc: distinct parent keys, anti-join, one count
    // row per check). Every 97th lineitem key re-ingested shifted plays
    // the broken-feed case so the audit certifies non-zero counts -----
    "ops_fkcheck" -> ((s: SparkSession, dir: String) => {
      val li = Tables.lineitem(s, dir).select(col("l_orderkey"))
      val child = li.union(li.filter(col("l_orderkey") % 97 === 0)
        .select((col("l_orderkey") + 900000000L).as("l_orderkey")))
      graft.ext.Integrity.audit(Seq(
        graft.ext.Integrity.orphans(child, Tables.orders(s, dir),
          "l_orderkey", "o_orderkey", "lineitem->orders"),
        graft.ext.Integrity.orphans(
          Tables.orders(s, dir).select(col("o_custkey")),
          Tables.customer(s, dir), "o_custkey", "c_custkey",
          "orders->customer")))
        .orderBy("rel")
    }),
    // ----- join-key skew audit: the k heaviest keys + exact per-mille
    // share (Skew.keySkew scaladoc: the pre-join broadcast/salt
    // decision input) -----
    "profile_skew" -> ((s: SparkSession, dir: String) =>
      graft.ext.Skew.keySkew(Tables.lineitem(s, dir), "l_partkey", k = 20)
        .orderBy(col("cnt").desc, col("l_partkey"))),
    // ----- small-file compaction plan: greedy cumulative fill per
    // partition dir (Compaction scaladoc: O(files) metadata, windowed by
    // partition dir — no global sort) over a per-(lang, source) inventory -----
    "ops_compaction" -> ((s: SparkSession, dir: String) => {
      val inventory = Tables.documents(s, dir)
        .groupBy(col("lang"), col("source"))
        .agg(sum(col("n_chars")).as("bytes"))
      graft.sources.Compaction.plan(inventory, "lang", "source", "bytes",
          targetBytes = 15000L)
        .orderBy("lang", "source")
    }),
    // ----- Z-order layout audit (Layout scaladoc: Morton interleave in
    // pure codegen bit ops; each z-prefix bucket is one 16×16 tile of the
    // (partkey, suppkey) plane, extent-bounded in BOTH keys — the
    // min/max-prunable layout for two-key scan predicates) -----
    "ops_zorder" -> ((s: SparkSession, dir: String) =>
      graft.sources.Layout.zOrderStats(
          Tables.lineitem(s, dir).select(
            (col("l_partkey") % 256).as("x"),
            (col("l_suppkey") % 256).as("y")),
          "x", "y", bits = 8, prefixShift = 8)
        .orderBy("bucket")),
    // ----- CSV round trip: header + schema-enforced FAILFAST re-read;
    // all columns non-null by construction (CsvTable scaladoc names the
    // inherent empty-vs-null CSV ambiguity) -----
    "source_csv" -> ((s: SparkSession, dir: String) => {
      val tmp = scratchDir("graft-csv-")
      graft.sources.CsvTable.roundTrip(
        Tables.documents(s, dir).select(col("doc_id"), col("text"),
          col("lang"), col("source"), col("n_chars")), tmp)
        .orderBy("doc_id")
    }),
    // ----- §2.10 multimodal plumbing (stub decode, real Spark shape) -----
    "mm_features" -> ((s: SparkSession, dir: String) =>
      Multimodal.features(
          Multimodal.fromDocuments(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // frame sampling: fixed 64-byte "frames", every 4th kept — the video
    // sampling shape with a byte-arithmetic stub for the decoder
    "mm_frames" -> ((s: SparkSession, dir: String) =>
      Multimodal.frameSample(
          Multimodal.fromDocuments(s, Tables.documents(s, dir)),
          frameBytes = 64, step = 4)
        .toDF().orderBy("id", "frame_idx")),
    // REAL bytes→pixels decode: planted binary PPM (P6) payloads derived
    // from doc_id by formula, parsed by the actual header-tokenizing
    // decoder (Multimodal.decodePpm) — certifies decode arithmetic, not
    // just plumbing; the oracle recomputes the features from the formula
    "mm_decode" -> ((s: SparkSession, dir: String) =>
      Multimodal.featuresPpm(
          Multimodal.plantedPpm(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // same planted pixel formula rendered as REAL PNGs (ImageIO encode)
    // then decoded back through the JDK's inflate+unfilter path — the
    // oracle is byte-for-byte the mm_decode formula replay, so a green
    // hash certifies an actual compressed codec, not just plumbing
    "mm_decode_png" -> ((s: SparkSession, dir: String) =>
      Multimodal.featuresPng(
          Multimodal.plantedPng(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // audio made real the same way: formula-derived PCM16 samples encoded
    // by the JDK's independent javax.sound WAVE writer, decoded back by
    // the hand-rolled RIFF chunk walker — the oracle replays the sample
    // formula's amplitude stats without running either codec
    "mm_decode_wav" -> ((s: SparkSession, dir: String) =>
      Multimodal.featuresWav(
          Multimodal.plantedWav(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // video completes the trio: formula-derived planar YUV rendered as
    // real YUV4MPEG2 streams, frame-SAMPLED during the container walk
    // (skipped frames never read — the 1/step decode-work reduction),
    // per-kept-frame Y/UV plane sums certifying the plane-boundary and
    // frame-stride arithmetic against a formula-replay oracle
    "mm_decode_y4m" -> ((s: SparkSession, dir: String) =>
      Multimodal.featuresY4m(
          Multimodal.plantedY4m(s, Tables.documents(s, dir)), step = 2)
        .toDF().orderBy("id", "frame_idx")),
    // shot-boundary detection over the SAME planted clips: per-pixel-
    // normalized luma jumps without division (Multimodal.sceneCuts
    // scaladoc); the oracle replays every frame's luma sum and the lag
    // — single-frame clips have no transition and emit no row
    "mm_scenecut" -> ((s: SparkSession, dir: String) =>
      Multimodal.sceneCuts(
          Multimodal.plantedY4m(s, Tables.documents(s, dir)), threshold = 2L)
        .orderBy("id")),
    // audio perceptual signature: one bit per temporal quarter of the
    // clip's amplitude mass (Multimodal.phashWav scaladoc) — the energy-
    // envelope blocking bucket a re-leveled copy still lands in; oracle
    // replays every quarter's |amp| mass from the planted sample formula
    "mm_phash_audio" -> ((s: SparkSession, dir: String) =>
      Multimodal.phashWav(
          Multimodal.plantedWav(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // audio metadata fast path: fmt fields + frame count from the chunk
    // sizes alone — no sample byte is ever read (decodeWavMeta scaladoc)
    "mm_meta_wav" -> ((s: SparkSession, dir: String) =>
      Multimodal.metaWav(
          Multimodal.plantedWav(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // metadata fast path: dimensions/bit-depth/color-type from the PNG
    // signature + IHDR alone — 33 bytes of work per image, no inflate
    // (the ParquetMeta footer-count analogue for images); the oracle
    // replays the planted geometry and the fixed 8-bit-truecolor fields
    // the JDK encoder always writes
    "mm_meta_png" -> ((s: SparkSession, dir: String) =>
      Multimodal.metaPng(
          Multimodal.plantedPng(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // JPEG metadata fast path: SOF marker walk — dimensions + precision
    // + component count without Huffman/IDCT (real corpora are JPEG-
    // heavy; lossy content is why only the HEADER shares the planted
    // oracle). The fixture is encoded by the JDK's own JPEG writer, so
    // the walk is certified against bytes it shares no code with
    "mm_meta_jpeg" -> ((s: SparkSession, dir: String) =>
      Multimodal.metaJpeg(
          Multimodal.plantedJpeg(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // perceptual-hash signature for IMAGE near-dup blocking
    // (Multimodal.phashPpm scaladoc: one bit per quadrant, 4·q > total
    // in exact integers — the certified kernel of the 64-bit aHash);
    // the oracle replays every quadrant sum from the planted pixel
    // formula, so a wrong quadrant boundary or bit order breaks the hash
    "mm_phash" -> ((s: SparkSession, dir: String) =>
      Multimodal.phashPpm(
          Multimodal.plantedPpmEven(s, Tables.documents(s, dir)))
        .toDF().orderBy("id")),
    // exact area-average downscale (factor 2): every output channel is
    // the round-half-up integer mean of its 2x2 block, so the oracle can
    // replay each block from the planted pixel formula — certifying the
    // resize arithmetic itself, not just that some smaller image came out
    "mm_resize" -> ((s: SparkSession, dir: String) =>
      Multimodal.resizePpm(
          Multimodal.plantedPpmEven(s, Tables.documents(s, dir)), factor = 2)
        .toDF().orderBy("id")),
    // ----- CDC merge / upsert: latest-wins change feed applied to the
    // base snapshot (Merge scaladoc: feed-only window + broadcast-sized
    // anti-join — the base never shuffles). The feed is derived
    // deterministically from orders: keys ≡3 (mod 10) updated, keys ≡7
    // updated-then-deleted (the seq-2 delete wins), keys ≡1 re-inserted
    // shifted above the key space -----
    "merge_upsert" -> ((s: SparkSession, dir: String) => {
      val base = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val m = col("o_orderkey") % 10
      def feed(cond: Column, status: String, op: String, seq: Long,
               shift: Long = 0L) =
        base.filter(cond).select(
          (col("o_orderkey") + shift).as("o_orderkey"), col("o_custkey"),
          lit(status).as("o_orderstatus"), col("o_totalprice"),
          lit(op).as("op"), lit(seq).as("seq"))
      val changes = feed(m === 3, "X", "U", 1L)
        .union(feed(m === 7, "Y", "U", 1L))
        .union(feed(m === 7, "Z", "D", 2L))
        .union(feed(m === 1, "N", "I", 1L, shift = 100000000L))
      graft.ext.Merge.upsert(base, changes, "o_orderkey", "op", "seq")
        .orderBy("o_orderkey")
    }),
    // ----- SCD2 history from the same style of change feed: versioned
    // validity intervals, deletes close intervals without emitting rows
    // (Merge.scd2 scaladoc: one exchange for dedup + lead; the base
    // table is never touched) -----
    "merge_scd2" -> ((s: SparkSession, dir: String) => {
      val base = Tables.orders(s, dir).select(col("o_orderkey"),
        col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
      val m = col("o_orderkey") % 10
      def feed(cond: Column, status: String, op: String, seq: Long,
               shift: Long = 0L) =
        base.filter(cond).select(
          (col("o_orderkey") + shift).as("o_orderkey"), col("o_custkey"),
          lit(status).as("o_orderstatus"), col("o_totalprice"),
          lit(op).as("op"), lit(seq).as("seq"))
      val changes = feed(m === 3, "X", "U", 1L)
        .union(feed(m === 7, "Y", "U", 1L))
        .union(feed(m === 3, "X2", "U", 2L))
        .union(feed(m === 7, "Z", "D", 2L))
        .union(feed(m === 1, "N", "I", 1L, shift = 100000000L))
      graft.ext.Merge.scd2(changes, "o_orderkey", "op", "seq")
        .orderBy("o_orderkey", "valid_from")
    }),
    // ----- column profiling: one scan, one Expand-based aggregate for
    // every statistic, row-local unpivot (Profile scaladoc); doubles
    // pre-quantized to cents so min/max strings are engine-portable -----
    "profile_stats" -> ((s: SparkSession, dir: String) =>
      graft.ext.Profile.columns(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
            col("o_orderstatus"), col("o_orderpriority"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long")
              .as("o_price_c")),
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority",
            "o_price_c"))
        .orderBy("col_name")),
    // ----- the 100 TB profile: distinct via certified HLL registers, no
    // full-key shuffle (Profile.columnsSketch scaladoc); the near-unique
    // o_orderkey is exactly the column exact-distinct chokes on -----
    "profile_stats_sketch" -> ((s: SparkSession, dir: String) =>
      graft.ext.Profile.columnsSketch(
          Tables.orders(s, dir).select(col("o_orderkey"), col("o_custkey"),
            floor(col("o_totalprice") * 100 + 0.5).cast("long")
              .as("o_price_c")),
          Seq("o_orderkey", "o_custkey", "o_price_c"))
        .orderBy("col_name")),
  )

  /** The trigram-LM oracle, shared verbatim by `text_lmscore` (the
    * broadcast arm) and `text_lmscore_big` (the forced shuffle arm) —
    * one SQL, two physical plans, bit-identical integer results. */
  private val LmScoreOracle: String =
    """WITH t AS (
      |  SELECT doc_id, text AS s FROM documents WHERE length(text) >= 3
      |), g AS (
      |  SELECT doc_id,
      |    unnest(list_transform(range(1, length(s) - 1),
      |      i -> s[i:i+2])) AS tri
      |  FROM t
      |), gb AS (
      |  SELECT doc_id, tri, tri[1:2] AS bi FROM g
      |), c3 AS (
      |  SELECT tri, CAST(count(*) AS BIGINT) AS c3 FROM g GROUP BY tri
      |), c2 AS (
      |  SELECT tri[1:2] AS bi, CAST(count(*) AS BIGINT) AS c2
      |  FROM g GROUP BY tri[1:2]
      |), v AS (
      |  SELECT CAST(count(DISTINCT tri[3:3]) AS BIGINT) AS v FROM g
      |)
      |SELECT gb.doc_id, CAST(count(*) AS BIGINT) AS tri_n,
      |  CAST(((CAST(sum(c2.c2) AS BIGINT) + count(*) * first(v.v))
      |      * 1000)
      |    // (CAST(sum(c3.c3) AS BIGINT) + count(*)) AS BIGINT)
      |    AS score_milli
      |FROM gb JOIN c3 USING (tri) JOIN c2 USING (bi), v
      |GROUP BY gb.doc_id ORDER BY gb.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // same floor(x*1e10 + 0.5) long quantization + exact integer sum as
    // the engine — plain IEEE double ops, so both engines quantize every
    // element to the identical long (a double→decimal cast does NOT agree
    // across engines on boundary values; see Similarity.centroidComponents)
    // same fixed op order (x / scale * 127 + 0.5) — IEEE-exact both sides
    // the planted shifted keys orphan exactly; the natural relationships
    // audit to zero — both counts compared, not assumed
    "ops_fkcheck" ->
      ("""WITH child AS (
         |  SELECT l_orderkey FROM lineitem
         |  UNION ALL
         |  SELECT l_orderkey + 900000000 FROM lineitem
         |  WHERE l_orderkey % 97 = 0
         |)
         |SELECT 'lineitem->orders' AS rel,
         |  (SELECT count(*) FROM child c WHERE NOT EXISTS
         |    (SELECT 1 FROM orders o WHERE o.o_orderkey = c.l_orderkey))
         |  AS n_orphans
         |UNION ALL
         |SELECT 'orders->customer',
         |  (SELECT count(*) FROM orders o WHERE NOT EXISTS
         |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
         |ORDER BY rel""".stripMargin),
    // same integer per-mille share; ties at the k boundary break by key
    "profile_skew" ->
      ("""WITH c AS (
         |  SELECT l_partkey, count(*) AS cnt FROM lineitem GROUP BY 1
         |), t AS (SELECT count(*) AS total FROM lineitem)
         |SELECT l_partkey, cnt, (cnt * 1000) // total AS permille
         |FROM c, t ORDER BY cnt DESC, l_partkey LIMIT 20""".stripMargin),
    "mm_frames" ->
      // documents.text is pure ASCII on this corpus (proven by mm_features'
      // byte_sum oracle matching), so substr/ascii arithmetic equals the
      // engine's byte arithmetic
      ("""WITH f AS (
         |  SELECT doc_id, text,
         |    unnest([i for i in range(0, CAST(ceil(length(text) / 64.0) AS INT), 4)]) AS frame_idx
         |  FROM documents
         |)
         |SELECT doc_id AS id, CAST(frame_idx AS BIGINT) AS frame_idx,
         |  CAST(length(substr(text, frame_idx * 64 + 1, 64)) AS BIGINT) AS n_bytes,
         |  CAST(list_sum([CAST(ascii(c) AS BIGINT) for c in string_split(substr(text, frame_idx * 64 + 1, 64), '')]) AS BIGINT) AS byte_sum
         |FROM f ORDER BY id, frame_idx""".stripMargin),
    // the plain overlap theta-join — bucketing must not change matches
    "join_overlap" ->
      ("""WITH v AS (
         |  SELECT event_id AS v_id, user_id AS vu, ts AS vs,
         |    ts + INTERVAL 60 MINUTE AS ve
         |  FROM events WHERE event_type = 'view'
         |), c AS (
         |  SELECT event_id AS c_id, user_id AS cu, ts AS cs,
         |    ts + INTERVAL 60 MINUTE AS ce
         |  FROM events WHERE event_type = 'click'
         |)
         |SELECT v_id, c_id FROM v JOIN c
         |ON vu = cu AND vs < ce AND cs < ve
         |ORDER BY v_id, c_id""".stripMargin),
    // identical integer-quantized idf ((n_docs*1e6) // df) and tie-break
    "text_tfidf" ->
      ("""WITH tfc AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents)
         |  GROUP BY doc_id, term
         |), dfreq AS (
         |  SELECT term, count(*) AS df_docs FROM tfc GROUP BY term
         |), tot AS (SELECT count(*) AS n_docs FROM documents),
         |ranked AS (
         |  SELECT tfc.doc_id, tfc.term,
         |    tfc.tf * ((tot.n_docs * 1000000) // dfreq.df_docs) AS score,
         |    CAST(row_number() OVER (PARTITION BY tfc.doc_id
         |      ORDER BY tfc.tf * ((tot.n_docs * 1000000) // dfreq.df_docs) DESC,
         |               tfc.term) AS BIGINT) AS rnk
         |  FROM tfc JOIN dfreq ON tfc.term = dfreq.term, tot
         |)
         |SELECT doc_id, rnk, term, score FROM ranked
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    // same start grid (0..n-1 step 48) and 1-based boundary indexing
    "text_chunks" ->
      ("""WITH t AS (
         |  SELECT doc_id, string_split(text, ' ') AS ws,
         |    len(string_split(text, ' ')) AS n
         |  FROM documents
         |), c AS (
         |  SELECT doc_id, ws, n,
         |    unnest(range(0, n, 48)) AS start,
         |    generate_subscripts(range(0, n, 48), 1) - 1 AS chunk_idx
         |  FROM t
         |)
         |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
         |  CAST(least(64, n - start) AS BIGINT) AS chunk_len,
         |  ws[start + 1] AS first_term,
         |  ws[start + least(64, n - start)] AS last_term
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin),
    // same deterministic vocab rank (count desc, term) and -1 unknowns;
    // DuckDB's parallel unnests zip, giving the same (pos, term) pairs
    // the same compound decoration, vocab derivation (top-16 by
    // (freq DESC, word) + distinct characters), and greedy
    // longest-prefix walk — the recursion step IS the engine's fold step
    "text_subword" ->
      ("""WITH RECURSIVE comp AS (
         |  SELECT text || ' scancolumn' || (doc_id % 10)
         |              || ' columnscan' || (doc_id % 7) AS text
         |  FROM documents
         |), occ AS (
         |  SELECT unnest(list_filter(string_split(text, ' '),
         |                            w -> w <> '')) AS word
         |  FROM comp
         |), top AS (
         |  SELECT word AS piece FROM occ GROUP BY word
         |  ORDER BY count(*) DESC, word LIMIT 16
         |), dw AS (
         |  SELECT DISTINCT word FROM occ
         |), chars AS (
         |  SELECT DISTINCT unnest(string_split(word, '')) AS piece FROM dw
         |), vocab AS (
         |  SELECT list(DISTINCT piece) AS vs, max(len(piece)) AS ml
         |  FROM (SELECT piece FROM top UNION SELECT piece FROM chars)
         |), enc AS (
         |  SELECT word, word AS rem, CAST(0 AS BIGINT) AS pp,
         |    CAST(NULL AS VARCHAR) AS piece
         |  FROM dw
         |  UNION ALL
         |  SELECT word, substring(rem, len(m) + 1, 100000000), pp + 1, m
         |  FROM (
         |    SELECT e.word, e.rem, e.pp,
         |      list_filter(list_transform(range(least(len(e.rem), v.ml),
         |          0, -1), l -> substring(e.rem, 1, l)),
         |        p -> list_contains(v.vs, p))[1] AS m
         |    FROM enc e, vocab v WHERE len(e.rem) > 0
         |  )
         |)
         |SELECT word, pp AS piece_pos, piece FROM enc
         |WHERE piece IS NOT NULL ORDER BY word, piece_pos""".stripMargin),
    // unrolled BPE training (BpeIterCte scaladoc: |-anchored symbol
    // strings, replace() as the exhaustive merge) — the final round's
    // segmentation IS the encode of every training word
    "text_bpe" ->
      (s"""WITH bw AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq FROM (
         |    SELECT unnest(list_filter(string_split(text, ' '),
         |                              w -> w <> '')) AS word
         |    FROM documents)
         |  GROUP BY word
         |), seg0 AS (
         |  SELECT word, freq,
         |    regexp_replace(word, '(.)', '|\\1 ', 'g') AS seg
         |  FROM bw
         |), ${(1 to 8).map(BpeIterCte).mkString(", ")}
         |SELECT word, CAST(pos AS BIGINT) AS piece_pos,
         |  substring(piece, 2) AS piece
         |FROM (
         |  SELECT word, generate_subscripts(syms, 1) AS pos,
         |    unnest(syms) AS piece
         |  FROM (SELECT word, string_split(rtrim(seg), ' ') AS syms
         |        FROM seg8)
         |)
         |ORDER BY word, piece_pos""".stripMargin),
    "text_vocab_encode" ->
      ("""WITH tp AS (
         |  SELECT doc_id,
         |    generate_subscripts(string_split(text, ' '), 1) - 1 AS pos,
         |    unnest(string_split(text, ' ')) AS term
         |  FROM documents
         |), v AS (
         |  SELECT term,
         |    CAST(row_number() OVER (ORDER BY count(*) DESC, term)
         |      AS BIGINT) AS tok_id
         |  FROM tp GROUP BY term
         |  QUALIFY tok_id <= 1000
         |)
         |SELECT tp.doc_id, CAST(tp.pos AS BIGINT) AS pos,
         |  coalesce(v.tok_id, -1) AS tok_id
         |FROM tp LEFT JOIN v USING (term)
         |ORDER BY doc_id, pos""".stripMargin),
    // per-occurrence (not distinct) tokens through the same 62-bit poly
    // hash the SimHash oracle replays, bucketed mod 64
    "text_hashvec" ->
      ("""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
         |), h AS (
         |  SELECT doc_id,
         |    list_reduce([CAST(ascii(c) AS BIGINT) for c in string_split(t,'')],
         |      (a,x) -> (a*31+x) % 2147483647) * 2147483648
         |    + list_reduce([CAST(ascii(c) AS BIGINT) for c in string_split(t,'')],
         |      (a,x) -> (a*131+x) % 2147483629) AS h
         |  FROM tok WHERE t <> ''
         |)
         |SELECT doc_id, h % 64 AS bucket, count(*) AS n
         |FROM h GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin),
    // the same poly hash as the hashvec oracle, folded straight into the
    // planted weight formula and summed per doc — ⟨w, counts⟩ by
    // distributivity, no vector anywhere
    "text_quality_model" ->
      ("""WITH tok AS (
         |  SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents
         |), h AS (
         |  SELECT doc_id,
         |    list_reduce([CAST(ascii(c) AS BIGINT) for c in string_split(t,'')],
         |      (a,x) -> (a*31+x) % 2147483647) * 2147483648
         |    + list_reduce([CAST(ascii(c) AS BIGINT) for c in string_split(t,'')],
         |      (a,x) -> (a*131+x) % 2147483629) AS h
         |  FROM tok WHERE t <> ''
         |)
         |SELECT doc_id,
         |  CAST(sum(((h % 64) * 37) % 17 - 8) AS BIGINT) AS logit,
         |  sum(((h % 64) * 37) % 17 - 8) >= 0 AS kept
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    // the shared QualityCtes metrics joined back for lang, gated with the
    // cleanpass thresholds
    "text_crosstab" ->
      (s"""WITH $QualityCtes
         |SELECT d.lang,
         |  (q.n_chars >= 100 AND q.stopword_ratio >= 0.02
         |    AND q.avg_token_len <= 5.0) AS kept,
         |  count(*) AS n
         |FROM q JOIN documents d USING (doc_id)
         |GROUP BY 1, 2 ORDER BY lang, kept""".stripMargin),
    // identical mess derivation (upper prefix, padding, a tab via chr(9))
    // and the identical lower → strip-control → collapse → trim chain
    // same lined decoration ([[LinedCte]]); DuckDB's zipped unnests give
    // (line, pos), string_agg(... ORDER BY pos) replays the engine's
    // array_sort(collect_list(struct(pos, line))) reassembly, and the
    // CASE-to-NULL trick inside the aggregates replays the when(keep, _)
    // null-skipping
    "text_linededup" ->
      (s"""WITH $LinedCte,
         |ls AS (
         |  SELECT doc_id,
         |    unnest(string_split(text, chr(10))) AS line,
         |    unnest(range(1, len(string_split(text, chr(10))) + 1)) AS pos
         |  FROM lined
         |), freq AS (
         |  SELECT line FROM ls GROUP BY line
         |  HAVING count(DISTINCT doc_id) >= 2
         |)
         |SELECT ls.doc_id,
         |  coalesce(string_agg(CASE WHEN f.line IS NULL THEN ls.line END,
         |    chr(10) ORDER BY ls.pos), '') AS clean_text,
         |  CAST(count(CASE WHEN f.line IS NULL THEN 1 END) AS BIGINT)
         |    AS n_kept,
         |  CAST(count(CASE WHEN f.line IS NOT NULL THEN 1 END) AS BIGINT)
         |    AS n_dropped
         |FROM ls LEFT JOIN freq f ON ls.line = f.line
         |GROUP BY ls.doc_id ORDER BY ls.doc_id""".stripMargin),
    // the trigram LM replayed: corpus counts via GROUP BY, the score
    // as the same fixed-point integer ratio (// division, BIGINT casts
    // before HUGEINT widening)
    "text_lmscore" -> LmScoreOracle,
    // the routed arm answers the IDENTICAL oracle: a forced-over-cap
    // run is the same ratio of integer sums through shuffle joins
    "text_lmscore_big" -> LmScoreOracle,
    // integer-ppm commonness: every division is //, every window-free
    // sum cast to BIGINT before it can widen downstream arithmetic to
    // HUGEINT
    "text_rarity" ->
      ("""WITH tfc AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents)
         |  GROUP BY doc_id, term
         |), cnts AS (
         |  SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tfc
         |  GROUP BY term
         |), tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_toks FROM cnts),
         |scored AS (
         |  SELECT tfc.doc_id, tfc.tf,
         |    CAST((cnts.cnt * 1000000) // tot.n_toks AS BIGINT) AS ppm
         |  FROM tfc JOIN cnts USING (term), tot
         |)
         |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |  CAST(sum(tf * ppm) // sum(tf) AS BIGINT) AS avg_ppm,
         |  min(ppm) AS min_ppm
         |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "text_winnow" ->
      (s"""WITH $WinnowCte
         |SELECT doc_id, unnest(fps) AS fp FROM win
         |ORDER BY doc_id, fp""".stripMargin),
    "text_normalize" ->
      ("""WITH messy AS (
         |  SELECT doc_id,
         |    upper(substr(text, 1, 10)) || substr(text, 11) ||
         |    '   PADDED ' || chr(9) || ' END  ' AS text
         |  FROM documents
         |)
         |SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars_raw,
         |  trim(regexp_replace(regexp_replace(lower(text),
         |    '[\x00-\x1f]', ' ', 'g'), '  *', ' ', 'g')) AS norm_text,
         |  CAST(length(trim(regexp_replace(regexp_replace(lower(text),
         |    '[\x00-\x1f]', ' ', 'g'), '  *', ' ', 'g'))) AS BIGINT)
         |    AS n_chars_norm
         |FROM messy ORDER BY doc_id""".stripMargin),
    // PII counts on the raw decorated text; redaction replayed with the
    // identical patterns in the identical email → IPv4 → phone order
    "text_pii" ->
      (s"""WITH $DirtyCte
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(text,
         |    '\\d{3}-\\d{3}-\\d{4}')) AS BIGINT) AS n_phones,
         |  CAST(len(regexp_extract_all(text,
         |    '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) AS BIGINT) AS n_ips,
         |  (len(regexp_extract_all(text,
         |     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |   + len(regexp_extract_all(text, '\\d{3}-\\d{3}-\\d{4}'))
         |   + len(regexp_extract_all(text,
         |       '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}')) > 0) AS has_pii,
         |  regexp_replace(regexp_replace(regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}', '<IP>', 'g'),
         |    '\\d{3}-\\d{3}-\\d{4}', '<PHONE>', 'g') AS redacted
         |FROM dirty ORDER BY doc_id""".stripMargin),
    "text_domains" ->
      (s"""WITH $DirtyCte, u AS (
         |  SELECT doc_id,
         |    unnest(regexp_extract_all(text, 'https?://[A-Za-z0-9.-]+')) AS url
         |  FROM dirty
         |)
         |SELECT regexp_replace(url, 'https?://', '') AS domain,
         |  count(*) AS n_mentions,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM u GROUP BY 1 ORDER BY n_mentions DESC, domain""".stripMargin),
    // the partitioned round trip must reproduce the plain filtered scan
    "sink_partitioned" ->
      ("""SELECT doc_id, n_chars FROM documents
         |WHERE lang = 'en' ORDER BY doc_id""".stripMargin),
    // three literal-version snapshot selects replaying the commit
    // sequence: overwrite(en) -> append(de) -> overwrite(fr)
    "sink_txlog" ->
      ("""SELECT CAST(1 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang = 'en'
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de')
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), doc_id, lang, n_chars
         |FROM documents WHERE lang = 'fr'
         |ORDER BY version, doc_id""".stripMargin),
    // SQL time travel answers the identical reference as the Scala API —
    // one commit history, two access surfaces
    "sink_txlog_sql" ->
      ("""SELECT CAST(1 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang = 'en'
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de')
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), doc_id, lang, n_chars
         |FROM documents WHERE lang = 'fr'
         |ORDER BY version, doc_id""".stripMargin),
    // the diff replays from the commit definitions: append de = inserts
    // only; overwrite fr = delete everything live (en + de), insert fr
    "ops_txdiff" ->
      ("""SELECT 'v1v2' AS step, 'insert' AS change, doc_id, lang, n_chars
         |FROM documents WHERE lang = 'de'
         |UNION ALL
         |SELECT 'v2v3', 'insert', doc_id, lang, n_chars
         |FROM documents WHERE lang = 'fr'
         |UNION ALL
         |SELECT 'v2v3', 'delete', doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de')
         |ORDER BY step, change, doc_id""".stripMargin),
    // serial-equivalent oracle for the two reconciled races: en (v1),
    // fr (winner v2), de (rebased v3), es (winner v4), compact (rebased
    // v5) — every slice exactly once, head at version 5
    "ops_concurrent" ->
      ("""SELECT CAST(5 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')
         |ORDER BY doc_id""".stripMargin),
    // both racing partition-scoped deletes land: serial application of
    // the two predicates over the partitioned base
    "ops_concurrent_rowlevel" ->
      ("""SELECT CAST(3 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr')
         |  AND NOT (lang = 'en' AND n_chars < 200)
         |  AND NOT (lang = 'de' AND n_chars > 400)
         |ORDER BY doc_id""".stripMargin),
    // OPTIMIZE commits version 4 with the identical en+de+fr multiset —
    // compaction moves bytes, never rows
    "ops_optimize" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // by-name union replayed from the commit definitions: NULLs where a
    // side never had the column
    "sink_txevolve" ->
      ("""SELECT doc_id, lang, n_chars, CAST(NULL AS BOOLEAN) AS flagged
         |FROM documents WHERE lang = 'en'
         |UNION ALL
         |SELECT doc_id, lang, CAST(NULL AS BIGINT), n_chars > 500
         |FROM documents WHERE lang = 'de'
         |ORDER BY doc_id""".stripMargin),
    // the constrained inserts land their slices verbatim (both checks
    // hold on the synthetic corpus — enforcement is the suite's job)
    "sink_txcheck" ->
      ("""SELECT doc_id, lang, n_chars FROM documents
         |WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the lifecycle's surviving content: the en slice admitted before
    // the constraints plus the de slice admitted after the UNSET (the
    // refused mid-lifecycle INSERT left nothing)
    "ops_constraint_sql" ->
      ("""SELECT doc_id, lang, n_chars FROM documents
         |WHERE lang IN ('en', 'de')
         |ORDER BY doc_id""".stripMargin),
    // three write-time schemas, one read-time schema: en rows predate
    // the added column (NULL), de rows carry it, n_chars was dropped
    "ops_evolve_sql" ->
      ("""SELECT doc_id, lang, CAST(NULL AS BIGINT) AS flag
         |FROM documents WHERE lang = 'en'
         |UNION ALL
         |SELECT doc_id, lang, n_chars % 7 AS flag
         |FROM documents WHERE lang = 'de'
         |ORDER BY doc_id""".stripMargin),
    // identical content through the CALL + time-travel SQL surface
    "ops_zorder_sql" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the partitioned read must reproduce the plain filtered scan —
    // values come from paths/manifest, never file bytes
    "sink_txpart" ->
      ("""SELECT doc_id, n_chars, lang FROM documents
         |WHERE lang IN ('en', 'es') ORDER BY doc_id""".stripMargin),
    // the z-order rewrite moves rows between files, never changes them:
    // v4 is the identical en+de+fr multiset
    // the scoped compaction moves bytes of the de files only, rows
    // never change: v4 is the identical en+de+fr multiset
    "ops_compact_where" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the 3-D z-order rewrite moves rows between files, never changes
    // them: v3 is the identical events multiset
    "ops_zorder3" ->
      ("""SELECT CAST(3 AS BIGINT) AS version, event_id, user_id,
         |  CAST(floor(value * 1000) AS BIGINT) AS v_milli
         |FROM events ORDER BY event_id""".stripMargin),
    "ops_zorder_rewrite" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the tagged snapshot replayed: v2 accumulated en+de; the fr append
    // came after the tag, and the tag survived a vacuum (require-pinned)
    "ops_tags" ->
      ("""SELECT doc_id, lang, n_chars FROM documents
         |WHERE lang IN ('en', 'de')
         |ORDER BY doc_id""".stripMargin),
    // the evolved clone replayed: the cloned en+de reference plus the
    // clone-local fr append (the clone copied nothing — require-pinned)
    "ops_clone" ->
      ("""SELECT doc_id, lang, n_chars FROM documents
         |WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the scoped zorder rewrite moved one day's bytes, never rows: the
    // post-rewrite snapshot replays as the fixture's bounded day-slice
    // of events (quantized keys recomputed by the same integer
    // arithmetic)
    "ops_zorder_part" ->
      ("""SELECT event_id, user_id, user_id % 256 AS uq,
         |  CAST(floor(value * 1000) AS BIGINT) % 256 AS vq
         |FROM events
         |WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-16 00:00:00'
         |ORDER BY event_id""".stripMargin),
    // identical content through the CALL + time-travel SQL surface
    "ops_optimize_sql" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the SQL DELETE replayed from the commit definitions: en+de+fr
    // accumulated, then the de rows removed — v4 is exactly en+fr
    "ops_delete_sql" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the rename replayed: same rows, the lang column answering under
    // its new logical name — es rows inserted after the rename included
    "ops_rename_sql" ->
      ("""SELECT doc_id, lang AS language, n_chars FROM documents
         |WHERE lang IN ('en', 'de', 'fr', 'es')
         |ORDER BY doc_id""".stripMargin),
    // the DPP join replayed: the major tier is en+de by construction
    "join_dpp" ->
      ("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars
         |FROM documents WHERE lang IN ('en', 'de')
         |GROUP BY lang ORDER BY lang""".stripMargin),
    // the file-pruned join replayed: dim = en ids divisible by 7,
    // grp 'a' = the even ones
    "join_dfp" ->
      ("""SELECT doc_id, lang, n_chars FROM documents
         |WHERE lang = 'en' AND doc_id % 7 = 0 AND doc_id % 2 = 0
         |ORDER BY doc_id""".stripMargin),
    // the null-skip scan replayed: de fully, fr's even doc_ids (en is
    // all-NULL by construction and filtered out)
    "ops_nullskip" ->
      ("""SELECT doc_id, CAST(n_chars AS BIGINT) AS score FROM documents
         |WHERE lang = 'de'
         |UNION ALL
         |SELECT doc_id, n_chars FROM documents
         |WHERE lang = 'fr' AND doc_id % 2 = 0
         |ORDER BY doc_id""".stripMargin),
    // the scoped backfill replayed: en+fr untouched, de's n_chars
    // shifted by the fixture
    "ops_replacewhere" ->
      ("""SELECT doc_id, lang, n_chars FROM documents
         |WHERE lang IN ('en', 'fr')
         |UNION ALL
         |SELECT doc_id, lang, n_chars + 500000 FROM documents
         |WHERE lang = 'de'
         |ORDER BY doc_id""".stripMargin),
    // the dynamic reload replayed: en+de untouched, fr's n_chars
    // shifted by the fixture
    "ops_dynoverwrite" ->
      ("""SELECT doc_id, lang, n_chars FROM documents
         |WHERE lang IN ('en', 'de')
         |UNION ALL
         |SELECT doc_id, lang, n_chars + 100000 FROM documents
         |WHERE lang = 'fr'
         |ORDER BY doc_id""".stripMargin),
    // the manifest-served partition aggregate replayed (lang is never
    // NULL in the fixture, so count(lang) = count(*))
    "count_tx_partcol" ->
      ("""SELECT CAST(count(*) AS BIGINT) AS n,
         |  CAST(count(lang) AS BIGINT) AS nl,
         |  min(lang) AS min_lang, max(lang) AS max_lang
         |FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')"""
        .stripMargin),
    // t$partitions replayed: the fixture writes exactly ONE file per
    // lang (hash-clustered before the partitioned write), so n_files
    // is 1 and n_rows is the per-lang cardinality
    "ops_partitions_meta" ->
      ("""SELECT '{lang=' || lang || '}' AS part,
         |  CAST(1 AS BIGINT) AS n_files,
         |  CAST(count(*) AS BIGINT) AS n_rows
         |FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')
         |GROUP BY lang ORDER BY part""".stripMargin),
    // the bucket-transform SPJ replayed: a plain self-join of documents
    // on doc_id — the hidden layout changes where bytes live, never rows
    "join_spj_bucket" ->
      ("""SELECT a.doc_id, a.n_chars, b.lang
         |FROM documents a JOIN documents b ON a.doc_id = b.doc_id
         |ORDER BY a.doc_id""".stripMargin),
    // the day-pruned range replayed over the raw events (timestamps
    // compare at microsecond precision on both engines)
    "scan_days_prune" ->
      ("""SELECT event_id, user_id FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
         |ORDER BY event_id""".stripMargin),
    // the repaired log summary replayed as constants: 5 commits, a
    // checkpoint forced at the head, zero replay tail (the pre-repair
    // 4-delta staleness is require-pinned inside the fixture)
    "ops_txlog_meta" ->
      ("""SELECT CAST(5 AS BIGINT) AS latest_version,
         |  CAST(5 AS BIGINT) AS checkpoint_version,
         |  CAST(0 AS BIGINT) AS replay_deltas""".stripMargin),
    // the ts-stats-pruned range replayed over the raw events (skipping
    // never changes results — identical rows to the days arm's window)
    "scan_ts_prune" ->
      ("""SELECT event_id, user_id FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 00:00:00'
         |  AND ts < TIMESTAMP '2024-01-12 00:00:00'
         |ORDER BY event_id""".stripMargin),
    // the hour-pruned range replayed over the raw events (the fixture's
    // one-day slice is a superset of the probed window)
    "scan_hours_prune" ->
      ("""SELECT event_id, user_id FROM events
         |WHERE ts >= TIMESTAMP '2024-01-10 05:00:00'
         |  AND ts < TIMESTAMP '2024-01-10 08:00:00'
         |ORDER BY event_id""".stripMargin),
    // the SPJ replayed: dim_docs is the per-lang doc count (the one
    // row of db.partw each lang joins)
    "join_spj" ->
      ("""SELECT lang, CAST(count(*) AS BIGINT) AS n,
         |  CAST(sum(n_chars) AS BIGINT) AS chars,
         |  CAST(count(*) AS BIGINT) AS dim_docs
         |FROM documents WHERE lang IN ('en', 'de', 'fr', 'es')
         |GROUP BY lang ORDER BY lang""".stripMargin),
    // the widen replayed: en+de at their original values (served as BIGINT
    // post-widen), fr shifted past Int.MaxValue by the fixture
    "ops_widen_sql" ->
      ("""SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars
         |FROM documents WHERE lang IN ('en', 'de')
         |UNION ALL
         |SELECT doc_id, lang, n_chars + 3000000000
         |FROM documents WHERE lang = 'fr'
         |ORDER BY doc_id""".stripMargin),
    // the evolved merge replayed: en predates the column (NULL), de
    // updated with score, fr inserted with it — score = n_chars % 100
    // in lockstep with the fixture's source derivation
    "ops_merge_evolve" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars,
         |  CAST(NULL AS BIGINT) AS score
         |FROM documents WHERE lang = 'en'
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), doc_id, lang, n_chars,
         |  n_chars % 100
         |FROM documents WHERE lang IN ('de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the partitioned evolved merge replays identically — the layout
    // changes where the bytes live, never the rows
    "ops_merge_evolve_part" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars,
         |  CAST(NULL AS BIGINT) AS score
         |FROM documents WHERE lang = 'en'
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), doc_id, lang, n_chars,
         |  n_chars % 100
         |FROM documents WHERE lang IN ('de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the footer-served aggregate over the compacted en+de+fr table
    "count_tx_footer" ->
      ("""SELECT CAST(count(*) AS BIGINT) AS n,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM documents WHERE lang IN ('en', 'de', 'fr')""".stripMargin),
    // the footer-served aggregate over the lang-partitioned table
    // (en+de+fr overwrite + es append — the sink_txpart fixture)
    "count_tx_footer_part" ->
      ("""SELECT CAST(count(*) AS BIGINT) AS n,
         |  min(doc_id) AS min_id, max(doc_id) AS max_id
         |FROM documents
         |WHERE lang IN ('en', 'de', 'fr', 'es')""".stripMargin),
    // the merge-on-read DELETE reads identically to its copy-on-write
    // twin — the tombstone anti-join must be invisible to content
    "ops_delete_mor" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the merge-on-read UPDATE reads identically to its copy-on-write
    // twin ops_update_sql — tombstone + appended copy must compose to
    // exactly the updated snapshot
    "ops_update_mor" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang,
         |  CASE WHEN lang = 'de' THEN n_chars + 1000 ELSE n_chars END
         |    AS n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the merge-on-read MERGE reads identically to its copy-on-write
    // twin ops_merge_sql: en+de pass through, heavy fr rows delete,
    // the rest update, es rows insert
    "ops_merge_mor" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de')
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), doc_id, lang, n_chars + 1000
         |FROM documents WHERE lang = 'fr' AND n_chars <= 400
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), doc_id, lang, n_chars
         |FROM documents WHERE lang = 'es'
         |ORDER BY doc_id""".stripMargin),
    // the change feed replayed from the commit definitions: en then de
    // inserts, the heavy-de delete, the light-en update pre/post pair
    "ops_txchanges" ->
      ("""SELECT CAST(1 AS BIGINT) AS _commit_version,
         |  'insert' AS _change_type, doc_id, lang, n_chars
         |FROM documents WHERE lang = 'en'
         |UNION ALL
         |SELECT CAST(2 AS BIGINT), 'insert', doc_id, lang, n_chars
         |FROM documents WHERE lang = 'de'
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), 'delete', doc_id, lang, n_chars
         |FROM documents WHERE lang = 'de' AND n_chars > 400
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), 'update_preimage', doc_id, lang,
         |  n_chars
         |FROM documents WHERE lang = 'en' AND n_chars <= 300
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), 'update_postimage', doc_id, lang,
         |  n_chars + 1000
         |FROM documents WHERE lang = 'en' AND n_chars <= 300
         |ORDER BY _commit_version, _change_type, doc_id""".stripMargin),
    // the purge materializes the same content with no tombstones left
    "ops_purge_dv" ->
      ("""SELECT CAST(5 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the SQL UPDATE replayed from the commit definitions: en+de+fr
    // accumulated, then the de rows' n_chars shifted by 1000
    "ops_update_sql" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang,
         |  CASE WHEN lang = 'de' THEN n_chars + 1000 ELSE n_chars END
         |    AS n_chars
         |FROM documents WHERE lang IN ('en', 'de', 'fr')
         |ORDER BY doc_id""".stripMargin),
    // the MERGE replayed clause by clause: en+de pass through, fr rows
    // with n_chars > 400 delete, the rest update to n_chars + 1000
    // (source n_chars == target n_chars for a self-derived source), and
    // es rows insert verbatim
    "ops_merge_sql" ->
      ("""SELECT CAST(4 AS BIGINT) AS version, doc_id, lang, n_chars
         |FROM documents WHERE lang IN ('en', 'de')
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), doc_id, lang, n_chars + 1000
         |FROM documents WHERE lang = 'fr' AND n_chars <= 400
         |UNION ALL
         |SELECT CAST(4 AS BIGINT), doc_id, lang, n_chars
         |FROM documents WHERE lang = 'es'
         |ORDER BY doc_id""".stripMargin),
    // vacuum(retain=2) expires exactly v1; the retained snapshots replay
    // from the commit definitions: v2 = en+de append state, v3 = fr
    // overwrite state — identical content before and after the vacuum
    "ops_vacuum" ->
      ("""SELECT CAST(2 AS BIGINT) AS version, doc_id, lang, n_chars,
         |  TRUE AS expired_v1
         |FROM documents WHERE lang IN ('en', 'de')
         |UNION ALL
         |SELECT CAST(3 AS BIGINT), doc_id, lang, n_chars, TRUE
         |FROM documents WHERE lang = 'fr'
         |ORDER BY version, doc_id""".stripMargin),
    // the JSONL round trip must reproduce the original table — if the
    // codec mangles quoting, escapes, or numerics, the hash breaks
    "source_jsonl" ->
      ("""SELECT event_id, user_id, event_type,
         |  CAST(floor(value * 100 + 0.5) AS BIGINT) AS value_c, props
         |FROM events ORDER BY event_id""".stripMargin),
    // the ORC round trip must reproduce the original table byte-for-byte
    "source_orc" ->
      ("""SELECT doc_id, text, lang, source, n_chars
         |FROM documents ORDER BY doc_id""".stripMargin),
    // and so must the CSV round trip (same all-non-null projection)
    "source_csv" ->
      ("""SELECT doc_id, text, lang, source, n_chars
         |FROM documents ORDER BY doc_id""".stripMargin),
    // greedy cumulative fill replayed with the same window: a file opens
    // a new group when its START offset crosses a target boundary
    // same [[ZInterleave8]] bit arithmetic; x, y, and the shifts are all
    // BIGINT end to end, so no HUGEINT widening anywhere
    "ops_zorder" ->
      (s"""WITH pts AS (
         |  SELECT l_partkey % 256 AS x, l_suppkey % 256 AS y FROM lineitem
         |), z AS (
         |  SELECT x, y, ($ZInterleave8) AS zv FROM pts
         |)
         |SELECT zv >> 8 AS bucket, CAST(count(*) AS BIGINT) AS n,
         |  min(x) AS min_x, max(x) AS max_x,
         |  min(y) AS min_y, max(y) AS max_y
         |FROM z GROUP BY 1 ORDER BY 1""".stripMargin),
    "ops_compaction" ->
      ("""WITH inv AS (
         |  SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS bytes
         |  FROM documents GROUP BY lang, source
         |), c AS (
         |  SELECT lang, source, bytes,
         |    sum(bytes) OVER (PARTITION BY lang ORDER BY source
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - bytes
         |      AS start_off
         |  FROM inv
         |)
         |SELECT lang, source, bytes,
         |  CAST(start_off // 15000 AS BIGINT) AS grp
         |FROM c ORDER BY lang, source""".stripMargin),
    // same per-doc distinct word bigrams (sub-2-token docs contribute the
    // whole text, mirroring Dedup.shingles) and the same k-boundary order
    "text_bigrams" ->
      ("""WITH b AS (
         |  SELECT unnest(CASE WHEN len(ws) < 2 THEN [text]
         |    ELSE list_distinct([ws[i] || ' ' || ws[i+1]
         |                        for i in range(1, len(ws))]) END) AS bigram
         |  FROM (SELECT text, string_split(text, ' ') AS ws FROM documents)
         |)
         |SELECT bigram, count(*) AS doc_freq FROM b GROUP BY bigram
         |ORDER BY doc_freq DESC, bigram LIMIT 40""".stripMargin),
    // same occurrence bigrams (positional zip), same exact-integer ratios
    // rounded to 4 decimals; n<2 docs emit 0.0 on both engines
    "text_repetition" ->
      ("""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |           FROM documents),
         |m AS (
         |  SELECT doc_id, len(ws) AS n,
         |    CASE WHEN len(ws) < 2 THEN 0
         |      ELSE len(ws) - 1 - len(list_distinct(
         |        [ws[i] || ' ' || ws[i+1] for i in range(1, len(ws))])) END
         |      AS dupb,
         |    list_max([len(list_filter(ws, x -> x = t))
         |              for t in list_distinct(ws)]) AS topc
         |  FROM w
         |)
         |SELECT doc_id, CAST(n AS BIGINT) AS n_tokens,
         |  CASE WHEN n < 2 THEN 0.0
         |    ELSE round(CAST(dupb AS DOUBLE) / (n - 1), 4) END
         |    AS dup_bigram_frac,
         |  round(CAST(topc AS DOUBLE) / greatest(n, 1), 4) AS top_token_frac
         |FROM m ORDER BY doc_id""".stripMargin),
    // PMI as the integer rational c_xy·nu²/(nb·c_x·c_y): both engines
    // form exact BIGINT products and perform ONE identical double
    // division, so score and rank order match bit-for-bit
    "text_pmi" ->
      ("""WITH w AS (SELECT string_split(text, ' ') AS ws FROM documents),
         |pairs AS (
         |  SELECT unnest([ws[i] || ' ' || ws[i+1]
         |                 for i in range(1, len(ws))]) AS bg FROM w
         |), cxy AS (
         |  SELECT string_split(bg, ' ')[1] AS x, string_split(bg, ' ')[2] AS y,
         |    count(*) AS c_xy
         |  FROM pairs GROUP BY 1, 2 HAVING count(*) >= 5
         |), cu AS (
         |  SELECT word, count(*) AS c
         |  FROM (SELECT unnest(ws) AS word FROM w) GROUP BY word
         |), tot AS (
         |  SELECT sum(len(ws)) AS nu, sum(greatest(len(ws) - 1, 0)) AS nb
         |  FROM w
         |)
         |SELECT c.x, c.y, c.c_xy, cx.c AS c_x, cy.c AS c_y,
         |  CAST(c.c_xy * t.nu * t.nu AS DOUBLE) /
         |  CAST(t.nb * cx.c * cy.c AS DOUBLE) AS score
         |FROM cxy c JOIN cu cx ON c.x = cx.word
         |JOIN cu cy ON c.y = cy.word, tot t
         |ORDER BY score DESC, x, y LIMIT 40""".stripMargin),
    // BM25 with cleared denominators (TextStats.bm25TopTerms scaladoc):
    // num = 22·S·tf, den = 10·S·tf + 3·S + 9·dl·N are exact integers on
    // both engines; the single num/den double division, the integer-
    // quantized idf ((N·10⁶) // df — same trick as text_tfidf), and the
    // fixed op order (ratio · idf + 0.5, then floor) are IEEE-identical
    "text_bm25" ->
      ("""WITH tf AS (
         |  SELECT doc_id, term, count(*) AS tf
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents)
         |  GROUP BY doc_id, term
         |), dl AS (
         |  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY doc_id
         |), dfreq AS (
         |  SELECT term, count(*) AS df_docs FROM tf GROUP BY term
         |), tot AS (SELECT count(*) AS n, sum(dl) AS s FROM dl),
         |scored AS (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(floor(
         |      CAST(22 * tot.s * tf.tf AS DOUBLE) /
         |      CAST(10 * tot.s * tf.tf + 3 * tot.s + 9 * dl.dl * tot.n
         |           AS DOUBLE) *
         |      CAST((tot.n * 1000000) // dfreq.df_docs AS DOUBLE)
         |      + 0.5) AS BIGINT) AS score
         |  FROM tf JOIN dl USING (doc_id) JOIN dfreq USING (term), tot
         |), ranked AS (
         |  SELECT doc_id, term, score,
         |    CAST(row_number() OVER (PARTITION BY doc_id
         |      ORDER BY score DESC, term) AS BIGINT) AS rnk
         |  FROM scored
         |)
         |SELECT doc_id, rnk, term, score FROM ranked
         |WHERE rnk <= 3 ORDER BY doc_id, rnk""".stripMargin),
    // replay both retrievers' top-50 lists (EXACT BM25 lexical — the
    // text_bm25 integer rational with dl = full token count — q4
    // cosine) and the integer RRF fusion over them
    "search_hybrid" ->
      ("""WITH occ AS (
         |  SELECT doc_id AS id, len(string_split(text, ' ')) AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT id, term, count(*) AS tf, max(dl) AS dl FROM occ
         |  WHERE term IN ('data', 'query', 'join') GROUP BY id, term
         |), dfreq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
         |tot AS (
         |  SELECT count(*) AS n, sum(len(string_split(text, ' '))) AS s
         |  FROM documents
         |), lex AS (
         |  SELECT id, sum(CAST(floor(
         |      CAST(22 * tot.s * tf.tf AS DOUBLE) /
         |      CAST(10 * tot.s * tf.tf + 3 * tot.s + 9 * tf.dl * tot.n
         |           AS DOUBLE) *
         |      CAST((tot.n * 1000000) // dfreq.df_docs AS DOUBLE)
         |      + 0.5) AS BIGINT)) AS lex_score
         |  FROM tf JOIN dfreq USING (term), tot GROUP BY id
         |), lextop AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY lex_score DESC, id)
         |    AS BIGINT) AS lex_rank
         |  FROM lex ORDER BY lex_score DESC, id LIMIT 50
         |), q AS (
         |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
         |  WHERE vec_id = 0
         |), vec AS (
         |  SELECT vec_id AS id,
         |    round(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
         |      (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                             CAST(embedding AS DOUBLE[]))) *
         |       sqrt(list_dot_product(qe, qe))), 4) AS sim
         |  FROM embeddings, q
         |), vectop AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY sim DESC, id)
         |    AS BIGINT) AS vec_rank
         |  FROM vec ORDER BY sim DESC, id LIMIT 50
         |)
         |SELECT id,
         |  CAST(coalesce(1000000000 // (60 + lex_rank), 0)
         |     + coalesce(1000000000 // (60 + vec_rank), 0) AS BIGINT)
         |    AS rrf_score,
         |  lex_rank, vec_rank
         |FROM lextop FULL OUTER JOIN vectop USING (id)
         |ORDER BY rrf_score DESC, id LIMIT 10""".stripMargin),
    // the ANN-served hybrid: the vector arm replays the FULL sim_ivfpq
    // pipeline (unrolled k-means training, quantized coarse centroids,
    // top-2 probe, PQ codebook, ADC top-50, exact rescore) and ranks by
    // the rescored cosine; lexical BM25 + RRF fusion replay unchanged
    "search_hybrid_ann" ->
      (s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings
         |), q AS (
         |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
         |  WHERE vec_id = 0
         |), ${EntryHelpers.kmeansCte(k = 4, iters = 3, dims = 64)}, vl AS (
         |  SELECT v.vec_id, f.cell AS label, v.e
         |  FROM v JOIN km_fin f USING (vec_id)
         |), cpos AS (
         |  SELECT label, generate_subscripts(e, 1) AS pos, unnest(e) AS x
         |  FROM vl
         |), ccent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / count(*) / 1e10 AS x
         |  FROM cpos GROUP BY label, pos
         |), carr AS (
         |  SELECT label, list(x ORDER BY pos) AS c FROM ccent GROUP BY label
         |), probes AS (
         |  SELECT label,
         |    round(list_dot_product(c, qe) /
         |      (sqrt(list_dot_product(c, c)) *
         |       sqrt(list_dot_product(qe, qe))), 4) AS cs
         |  FROM carr, q ORDER BY cs DESC, label LIMIT 2
         |), sv AS (
         |  SELECT vec_id, label, sub, e[sub*16+1 : sub*16+16] AS sl
         |  FROM vl, (SELECT unnest(range(0, 4)) AS sub)
         |), comp AS (
         |  SELECT sub, label, generate_subscripts(sl, 1) AS pos,
         |    unnest(sl) AS x
         |  FROM sv
         |), cent AS (
         |  SELECT sub, label, pos,
         |    CAST(sum(CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / count(*) / 1e10 AS x
         |  FROM comp GROUP BY 1, 2, 3
         |), cb AS (
         |  SELECT sub, label AS lbl, list(x ORDER BY pos) AS cent
         |  FROM cent GROUP BY 1, 2
         |), scored AS (
         |  SELECT sv.vec_id, sv.sub, cb.lbl,
         |    round(list_dot_product(sl, sl) - 2.0 * list_dot_product(sl, cent)
         |      + list_dot_product(cent, cent), 6) AS d2
         |  FROM sv JOIN cb ON sv.sub = cb.sub
         |), best AS (
         |  SELECT vec_id, sub, lbl,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, lbl)
         |      AS rn
         |  FROM scored
         |), lut AS (
         |  SELECT cb.sub, cb.lbl,
         |    list_dot_product(cent, qe[cb.sub*16+1 : cb.sub*16+16]) AS qd,
         |    list_dot_product(cent, cent) AS cn
         |  FROM cb, q
         |), pv AS (
         |  SELECT vec_id FROM vl JOIN probes USING (label)
         |), parts AS (
         |  SELECT b.vec_id, b.sub, lut.qd, lut.cn
         |  FROM (SELECT vec_id, sub, lbl FROM best WHERE rn = 1) b
         |  JOIN pv ON b.vec_id = pv.vec_id
         |  JOIN lut ON b.sub = lut.sub AND b.lbl = lut.lbl
         |), agg AS (
         |  SELECT vec_id,
         |    list_reduce(list(qd ORDER BY sub), (a, x) -> a + x) AS dotsum,
         |    list_reduce(list(cn ORDER BY sub), (a, x) -> a + x) AS norm2
         |  FROM parts GROUP BY vec_id
         |), adc AS (
         |  SELECT vec_id,
         |    round(dotsum / (sqrt(norm2) * sqrt(list_dot_product(qe, qe))), 4)
         |      AS sim_pq
         |  FROM agg, q ORDER BY sim_pq DESC, vec_id LIMIT 50
         |), rescored AS (
         |  SELECT adc.vec_id AS id,
         |    round(list_dot_product(v.e, qe) /
         |      (sqrt(list_dot_product(v.e, v.e)) *
         |       sqrt(list_dot_product(qe, qe))), 4) AS sim
         |  FROM adc JOIN v ON adc.vec_id = v.vec_id, q
         |), vectop AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY sim DESC, id)
         |    AS BIGINT) AS vec_rank
         |  FROM rescored
         |), occ AS (
         |  SELECT doc_id AS id, len(string_split(text, ' ')) AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT id, term, count(*) AS tf, max(dl) AS dl FROM occ
         |  WHERE term IN ('data', 'query', 'join') GROUP BY id, term
         |), dfreq AS (SELECT term, count(*) AS df_docs FROM tf GROUP BY term),
         |tot AS (
         |  SELECT count(*) AS n, sum(len(string_split(text, ' '))) AS s
         |  FROM documents
         |), lex AS (
         |  SELECT id, sum(CAST(floor(
         |      CAST(22 * tot.s * tf.tf AS DOUBLE) /
         |      CAST(10 * tot.s * tf.tf + 3 * tot.s + 9 * tf.dl * tot.n
         |           AS DOUBLE) *
         |      CAST((tot.n * 1000000) // dfreq.df_docs AS DOUBLE)
         |      + 0.5) AS BIGINT)) AS lex_score
         |  FROM tf JOIN dfreq USING (term), tot GROUP BY id
         |), lextop AS (
         |  SELECT id, CAST(row_number() OVER (ORDER BY lex_score DESC, id)
         |    AS BIGINT) AS lex_rank
         |  FROM lex ORDER BY lex_score DESC, id LIMIT 50
         |)
         |SELECT id,
         |  CAST(coalesce(1000000000 // (60 + lex_rank), 0)
         |     + coalesce(1000000000 // (60 + vec_rank), 0) AS BIGINT)
         |    AS rrf_score,
         |  lex_rank, vec_rank
         |FROM lextop FULL OUTER JOIN vectop USING (id)
         |ORDER BY rrf_score DESC, id LIMIT 10""".stripMargin),
    // three queries through the same replay: broadcast query/term table,
    // per-query BM25 + cosine ranks, per-query RRF top-10
    "search_hybrid_batch" ->
      ("""WITH queries(query_id, term) AS (
         |  SELECT CAST(q AS BIGINT), t FROM (VALUES
         |    (0, 'data'), (0, 'query'), (0, 'join'),
         |    (1, 'spark'), (1, 'table'), (1, 'scan'),
         |    (2, 'stream'), (2, 'window')) v(q, t)
         |), qv AS (
         |  SELECT CAST(vec_id AS BIGINT) AS query_id,
         |         CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)
         |), occ AS (
         |  SELECT doc_id AS id, len(string_split(text, ' ')) AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT q.query_id, o.id, o.term, count(*) AS tf, max(o.dl) AS dl
         |  FROM occ o JOIN queries q USING (term)
         |  GROUP BY q.query_id, o.id, o.term
         |), dfreq AS (
         |  SELECT term, count(*) AS df_docs
         |  FROM (SELECT DISTINCT term, id FROM tf) GROUP BY term
         |), tot AS (
         |  SELECT count(*) AS n, sum(len(string_split(text, ' '))) AS s
         |  FROM documents
         |), lex AS (
         |  SELECT query_id, id, sum(CAST(floor(
         |      CAST(22 * tot.s * tf.tf AS DOUBLE) /
         |      CAST(10 * tot.s * tf.tf + 3 * tot.s + 9 * tf.dl * tot.n
         |           AS DOUBLE) *
         |      CAST((tot.n * 1000000) // dfreq.df_docs AS DOUBLE)
         |      + 0.5) AS BIGINT)) AS lex_score
         |  FROM tf JOIN dfreq USING (term), tot GROUP BY query_id, id
         |), lextop AS (
         |  SELECT query_id, id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY lex_score DESC, id) AS BIGINT) AS lex_rank
         |  FROM lex
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY lex_score DESC, id) <= 50
         |), vec AS (
         |  SELECT qv.query_id, vec_id AS id,
         |    round(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
         |      (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
         |                             CAST(embedding AS DOUBLE[]))) *
         |       sqrt(list_dot_product(qe, qe))), 4) AS sim
         |  FROM embeddings, qv
         |), vectop AS (
         |  SELECT query_id, id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, id) AS BIGINT) AS vec_rank
         |  FROM vec
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY sim DESC, id) <= 50
         |)
         |SELECT query_id, id,
         |  CAST(coalesce(1000000000 // (60 + lex_rank), 0)
         |     + coalesce(1000000000 // (60 + vec_rank), 0) AS BIGINT)
         |    AS rrf_score,
         |  lex_rank, vec_rank
         |FROM lextop FULL OUTER JOIN vectop USING (query_id, id)
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY rrf_score DESC, id) <= 10
         |ORDER BY query_id, rrf_score DESC, id""".stripMargin),
    // the batched ANN hybrid: the vec pipeline's shared stages (training,
    // coarse centroids, codebook, code assignment) replay once; probes,
    // ADC, and rescore replay PER QUERY via query_id partitions; the
    // lexical arm and fusion are search_hybrid_batch's replay verbatim
    "search_hybrid_ann_batch" ->
      (s"""WITH v AS (
         |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
         |  FROM embeddings
         |), qv AS (
         |  SELECT CAST(vec_id AS BIGINT) AS query_id,
         |         CAST(embedding AS DOUBLE[]) AS qe
         |  FROM embeddings WHERE vec_id IN (0, 1, 2)
         |), ${EntryHelpers.kmeansCte(k = 4, iters = 3, dims = 64)}, vl AS (
         |  SELECT v.vec_id, f.cell AS label, v.e
         |  FROM v JOIN km_fin f USING (vec_id)
         |), cpos AS (
         |  SELECT label, generate_subscripts(e, 1) AS pos, unnest(e) AS x
         |  FROM vl
         |), ccent AS (
         |  SELECT label, pos,
         |    CAST(sum(CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / count(*) / 1e10 AS x
         |  FROM cpos GROUP BY label, pos
         |), carr AS (
         |  SELECT label, list(x ORDER BY pos) AS c FROM ccent GROUP BY label
         |), probes AS (
         |  SELECT query_id, label FROM (
         |    SELECT qv.query_id, carr.label,
         |      row_number() OVER (PARTITION BY qv.query_id ORDER BY
         |        round(list_dot_product(c, qe) /
         |          (sqrt(list_dot_product(c, c)) *
         |           sqrt(list_dot_product(qe, qe))), 4) DESC,
         |        carr.label) AS rn
         |    FROM carr, qv) WHERE rn <= 2
         |), sv AS (
         |  SELECT vec_id, label, sub, e[sub*16+1 : sub*16+16] AS sl
         |  FROM vl, (SELECT unnest(range(0, 4)) AS sub)
         |), comp AS (
         |  SELECT sub, label, generate_subscripts(sl, 1) AS pos,
         |    unnest(sl) AS x
         |  FROM sv
         |), cent AS (
         |  SELECT sub, label, pos,
         |    CAST(sum(CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS DOUBLE)
         |      / count(*) / 1e10 AS x
         |  FROM comp GROUP BY 1, 2, 3
         |), cb AS (
         |  SELECT sub, label AS lbl, list(x ORDER BY pos) AS cent
         |  FROM cent GROUP BY 1, 2
         |), scored AS (
         |  SELECT sv.vec_id, sv.sub, cb.lbl,
         |    round(list_dot_product(sl, sl) - 2.0 * list_dot_product(sl, cent)
         |      + list_dot_product(cent, cent), 6) AS d2
         |  FROM sv JOIN cb ON sv.sub = cb.sub
         |), best AS (
         |  SELECT vec_id, sub, lbl,
         |    row_number() OVER (PARTITION BY vec_id, sub ORDER BY d2, lbl)
         |      AS rn
         |  FROM scored
         |), lut AS (
         |  SELECT qv.query_id, cb.sub, cb.lbl,
         |    list_dot_product(cent, qe[cb.sub*16+1 : cb.sub*16+16]) AS qd,
         |    list_dot_product(cent, cent) AS cn
         |  FROM cb, qv
         |), pv AS (
         |  SELECT probes.query_id, vl.vec_id
         |  FROM vl JOIN probes USING (label)
         |), parts AS (
         |  SELECT pv.query_id, b.vec_id, b.sub, lut.qd, lut.cn
         |  FROM (SELECT vec_id, sub, lbl FROM best WHERE rn = 1) b
         |  JOIN pv ON b.vec_id = pv.vec_id
         |  JOIN lut ON lut.query_id = pv.query_id
         |    AND b.sub = lut.sub AND b.lbl = lut.lbl
         |), agg AS (
         |  SELECT query_id, vec_id,
         |    list_reduce(list(qd ORDER BY sub), (a, x) -> a + x) AS dotsum,
         |    list_reduce(list(cn ORDER BY sub), (a, x) -> a + x) AS norm2
         |  FROM parts GROUP BY query_id, vec_id
         |), adc AS (
         |  SELECT query_id, vec_id FROM (
         |    SELECT agg.query_id, agg.vec_id,
         |      row_number() OVER (PARTITION BY agg.query_id ORDER BY
         |        round(dotsum / (sqrt(norm2) *
         |          sqrt(list_dot_product(qe, qe))), 4) DESC,
         |        agg.vec_id) AS rn
         |    FROM agg JOIN qv ON agg.query_id = qv.query_id)
         |  WHERE rn <= 50
         |), rescored AS (
         |  SELECT adc.query_id, adc.vec_id AS id,
         |    round(list_dot_product(v.e, qe) /
         |      (sqrt(list_dot_product(v.e, v.e)) *
         |       sqrt(list_dot_product(qe, qe))), 4) AS sim
         |  FROM adc JOIN v ON adc.vec_id = v.vec_id
         |  JOIN qv ON adc.query_id = qv.query_id
         |), vectop AS (
         |  SELECT query_id, id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, id) AS BIGINT) AS vec_rank
         |  FROM rescored
         |), queries(query_id, term) AS (
         |  SELECT CAST(q AS BIGINT), t FROM (VALUES
         |    (0, 'data'), (0, 'query'), (0, 'join'),
         |    (1, 'spark'), (1, 'table'), (1, 'scan'),
         |    (2, 'stream'), (2, 'window')) vq(q, t)
         |), occ AS (
         |  SELECT doc_id AS id, len(string_split(text, ' ')) AS dl,
         |         unnest(string_split(text, ' ')) AS term
         |  FROM documents
         |), tf AS (
         |  SELECT q.query_id, o.id, o.term, count(*) AS tf, max(o.dl) AS dl
         |  FROM occ o JOIN queries q USING (term)
         |  GROUP BY q.query_id, o.id, o.term
         |), dfreq AS (
         |  SELECT term, count(*) AS df_docs
         |  FROM (SELECT DISTINCT term, id FROM tf) GROUP BY term
         |), tot AS (
         |  SELECT count(*) AS n, sum(len(string_split(text, ' '))) AS s
         |  FROM documents
         |), lex AS (
         |  SELECT query_id, id, sum(CAST(floor(
         |      CAST(22 * tot.s * tf.tf AS DOUBLE) /
         |      CAST(10 * tot.s * tf.tf + 3 * tot.s + 9 * tf.dl * tot.n
         |           AS DOUBLE) *
         |      CAST((tot.n * 1000000) // dfreq.df_docs AS DOUBLE)
         |      + 0.5) AS BIGINT)) AS lex_score
         |  FROM tf JOIN dfreq USING (term), tot GROUP BY query_id, id
         |), lextop AS (
         |  SELECT query_id, id,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY lex_score DESC, id) AS BIGINT) AS lex_rank
         |  FROM lex
         |  QUALIFY row_number() OVER (PARTITION BY query_id
         |    ORDER BY lex_score DESC, id) <= 50
         |)
         |SELECT query_id, id,
         |  CAST(coalesce(1000000000 // (60 + lex_rank), 0)
         |     + coalesce(1000000000 // (60 + vec_rank), 0) AS BIGINT)
         |    AS rrf_score,
         |  lex_rank, vec_rank
         |FROM lextop FULL OUTER JOIN vectop USING (query_id, id)
         |QUALIFY row_number() OVER (PARTITION BY query_id
         |  ORDER BY rrf_score DESC, id) <= 10
         |ORDER BY query_id, rrf_score DESC, id""".stripMargin),
    // same df band [2,50] before any posting materializes, same cap-10
    // rank over doc_id (unique per term, so the order is total)
    "index_postings" ->
      ("""WITH pairs AS (
         |  SELECT DISTINCT doc_id, term
         |  FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
         |        FROM documents)
         |), band AS (
         |  SELECT term, count(*) AS df_docs FROM pairs GROUP BY term
         |  HAVING count(*) BETWEEN 2 AND 50
         |)
         |SELECT p.term, b.df_docs,
         |  CAST(row_number() OVER (PARTITION BY p.term ORDER BY p.doc_id)
         |    AS BIGINT) AS slot,
         |  p.doc_id
         |FROM pairs p JOIN band b USING (term)
         |QUALIFY row_number() OVER (PARTITION BY p.term ORDER BY p.doc_id)
         |  <= 10
         |ORDER BY term, slot""".stripMargin),
    // the FreqSketch Rabin–Karp folds replayed with list_reduce (the
    // dedup_simhash construction): list_reduce's first-element seed equals
    // the Spark fold's 0-seed first step (cp % p = cp); d=3 rows × 512
    // cells, est = min over the 3 probed cells, ≥ exact always
    "sketch_cms" ->
      ("""WITH terms AS (
         |  SELECT unnest(string_split(text, ' ')) AS term FROM documents
         |), counts AS (
         |  SELECT term, count(*) AS cnt FROM terms WHERE term <> ''
         |  GROUP BY term
         |), hashed AS (
         |  SELECT term, cnt,
         |    list_reduce([CAST(ascii(c) AS BIGINT)
         |                 for c in string_split(term, '')],
         |      (a, x) -> (a * 31 + x) % 2147483647) % 512 AS c0,
         |    list_reduce([CAST(ascii(c) AS BIGINT)
         |                 for c in string_split(term, '')],
         |      (a, x) -> (a * 131 + x) % 2147483629) % 512 AS c1,
         |    list_reduce([CAST(ascii(c) AS BIGINT)
         |                 for c in string_split(term, '')],
         |      (a, x) -> (a * 1031 + x) % 2147483587) % 512 AS c2
         |  FROM counts
         |), cells AS (
         |  SELECT 0 AS hrow, c0 AS cell, cnt FROM hashed
         |  UNION ALL SELECT 1, c1, cnt FROM hashed
         |  UNION ALL SELECT 2, c2, cnt FROM hashed
         |), sk AS (
         |  SELECT hrow, cell, sum(cnt) AS scnt FROM cells GROUP BY hrow, cell
         |), top AS (
         |  SELECT term, cnt AS exact_cnt, c0, c1, c2 FROM hashed
         |  ORDER BY cnt DESC, term LIMIT 20
         |), probes AS (
         |  SELECT term, exact_cnt, 0 AS hrow, c0 AS cell FROM top
         |  UNION ALL SELECT term, exact_cnt, 1, c1 FROM top
         |  UNION ALL SELECT term, exact_cnt, 2, c2 FROM top
         |)
         |SELECT p.term, p.exact_cnt, CAST(min(s.scnt) AS BIGINT) AS est_cnt
         |FROM probes p JOIN sk s ON p.hrow = s.hrow AND p.cell = s.cell
         |GROUP BY p.term, p.exact_cnt
         |ORDER BY exact_cnt DESC, term""".stripMargin),
    // replay the planted-PPM formula: w = 1 + id%7, h = 1 + id%5,
    // pixel(k) = (id*31 + 7k) mod 256 for k < w*h*3 (max 105 — the
    // bounded series join); mean quantization is the engine's exact
    // long arithmetic (sum*1e4 + n/2) div n
    "mm_decode" ->
      ("""WITH px AS (
         |  SELECT doc_id AS id, 1 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
         |  FROM documents
         |), sums AS (
         |  SELECT id, w, h, sum((id*31 + 7*k) % 256) AS ps
         |  FROM px, generate_series(0, 104) t(k)
         |  WHERE k < w*h*3
         |  GROUP BY id, w, h
         |)
         |SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(ps AS BIGINT) AS pixel_sum,
         |  CAST((ps*10000 + (w*h*3)//2) // (w*h*3) AS BIGINT)
         |    AS pixel_mean_q4
         |FROM sums ORDER BY id""".stripMargin),
    // the PNG entry shares the PPM oracle verbatim: PNG is lossless, so
    // the encode→decode round trip must reproduce the identical planted
    // pixels — any inflate/unfilter defect breaks the hash
    "mm_decode_png" ->
      ("""WITH px AS (
         |  SELECT doc_id AS id, 1 + doc_id % 7 AS w, 1 + doc_id % 5 AS h
         |  FROM documents
         |), sums AS (
         |  SELECT id, w, h, sum((id*31 + 7*k) % 256) AS ps
         |  FROM px, generate_series(0, 104) t(k)
         |  WHERE k < w*h*3
         |  GROUP BY id, w, h
         |)
         |SELECT id, CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
         |  CAST(ps AS BIGINT) AS pixel_sum,
         |  CAST((ps*10000 + (w*h*3)//2) // (w*h*3) AS BIGINT)
         |    AS pixel_mean_q4
         |FROM sums ORDER BY id""".stripMargin),
    // replay the planted-WAV formula: channels = 1 + id%2,
    // rate = 8000 + 4000*(id%3), frames = 16 + id%17,
    // sample(k) = ((id*37 + 11k) mod 65536) - 32768 for
    // k < frames*channels (max 64 — bounded series join); WAVE PCM is
    // bit-exact, so the amplitude stats survive the JDK encode →
    // hand-rolled RIFF parse round trip unchanged
    "mm_decode_wav" ->
      ("""WITH fx AS (
         |  SELECT doc_id AS id, 1 + doc_id % 2 AS c,
         |         8000 + 4000 * (doc_id % 3) AS rate,
         |         16 + doc_id % 17 AS f
         |  FROM documents
         |), sums AS (
         |  SELECT id, c, rate, f,
         |    sum(abs(((id*37 + 11*k) % 65536) - 32768)) AS asum,
         |    max(abs(((id*37 + 11*k) % 65536) - 32768)) AS amax
         |  FROM fx, generate_series(0, 63) t(k)
         |  WHERE k < f * c
         |  GROUP BY id, c, rate, f
         |)
         |SELECT id, CAST(c AS BIGINT) AS channels,
         |  CAST(rate AS BIGINT) AS sample_rate, CAST(f AS BIGINT) AS n_frames,
         |  CAST(asum AS BIGINT) AS amp_sum, CAST(amax AS BIGINT) AS amp_max
         |FROM sums ORDER BY id""".stripMargin),
    // frame sampling replay: frames f < 1+id%5 with f%2=0 survive; luma
    // byte k of frame f is (id*13+5f+3k) mod 256 over w*h bytes, chroma
    // (id*17+7f+k) mod 256 over w*h/2 — exactly the planted formulas
    "mm_decode_y4m" ->
      ("""WITH g AS (
         |  SELECT doc_id AS id, 2*(1 + doc_id % 3) AS w,
         |         2*(1 + doc_id % 2) AS h, 1 + doc_id % 5 AS nf,
         |         24 + doc_id % 2 AS fps
         |  FROM documents
         |), fr AS (
         |  SELECT id, w, h, fps, f
         |  FROM g, generate_series(0, 4) t(f)
         |  WHERE f < nf AND f % 2 = 0
         |), ys AS (
         |  SELECT id, f, sum((id*13 + 5*f + 3*k) % 256) AS s
         |  FROM fr, generate_series(0, 23) ty(k)
         |  WHERE k < w*h GROUP BY id, f
         |), uvs AS (
         |  SELECT id, f, sum((id*17 + 7*f + k) % 256) AS s
         |  FROM fr, generate_series(0, 11) tu(k)
         |  WHERE k < w*h//2 GROUP BY id, f
         |)
         |SELECT fr.id, CAST(fr.f AS BIGINT) AS frame_idx,
         |  CAST(fr.w AS BIGINT) AS width, CAST(fr.h AS BIGINT) AS height,
         |  CAST(fr.fps AS BIGINT) AS fps_num, CAST(ys.s AS BIGINT) AS y_sum,
         |  CAST(uvs.s AS BIGINT) AS uv_sum
         |FROM fr JOIN ys ON fr.id = ys.id AND fr.f = ys.f
         |        JOIN uvs ON fr.id = uvs.id AND fr.f = uvs.f
         |ORDER BY fr.id, frame_idx""".stripMargin),
    // every frame's luma sum replayed (step 1 — the detector sees all
    // frames), lagged per clip, jump vs w*h*2 in pure integers
    "mm_scenecut" ->
      ("""WITH g AS (
         |  SELECT doc_id AS id, 2*(1 + doc_id % 3) AS w,
         |         2*(1 + doc_id % 2) AS h, 1 + doc_id % 5 AS nf
         |  FROM documents
         |), fr AS (
         |  SELECT id, w, h, f FROM g, generate_series(0, 4) t(f)
         |  WHERE f < nf
         |), ys AS (
         |  SELECT id, w, h, f, sum((id*13 + 5*f + 3*k) % 256) AS s
         |  FROM fr, generate_series(0, 23) ty(k)
         |  WHERE k < w*h GROUP BY id, w, h, f
         |), j AS (
         |  SELECT id, w, h,
         |    abs(s - lag(s) OVER (PARTITION BY id ORDER BY f)) AS jump
         |  FROM ys
         |)
         |SELECT id, count(*) AS n_transitions,
         |  CAST(sum(CASE WHEN jump > w*h*2 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_cuts,
         |  CAST(max(jump) AS BIGINT) AS max_jump
         |FROM j WHERE jump IS NOT NULL
         |GROUP BY id ORDER BY id""".stripMargin),
    // quarter membership is (4k)//n — both engines place every sample
    // identically even when n % 4 != 0; bits are 4*q > total
    "mm_phash_audio" ->
      ("""WITH fx AS (
         |  SELECT doc_id AS id, 1 + doc_id % 2 AS c, 16 + doc_id % 17 AS f
         |  FROM documents
         |), q AS (
         |  SELECT id,
         |    CAST(sum(CASE WHEN (4*k)//(f*c) = 0
         |      THEN abs(((id*37 + 11*k) % 65536) - 32768) ELSE 0 END) AS BIGINT) AS q0,
         |    CAST(sum(CASE WHEN (4*k)//(f*c) = 1
         |      THEN abs(((id*37 + 11*k) % 65536) - 32768) ELSE 0 END) AS BIGINT) AS q1,
         |    CAST(sum(CASE WHEN (4*k)//(f*c) = 2
         |      THEN abs(((id*37 + 11*k) % 65536) - 32768) ELSE 0 END) AS BIGINT) AS q2,
         |    CAST(sum(CASE WHEN (4*k)//(f*c) = 3
         |      THEN abs(((id*37 + 11*k) % 65536) - 32768) ELSE 0 END) AS BIGINT) AS q3
         |  FROM fx, generate_series(0, 63) t(k)
         |  WHERE k < f * c
         |  GROUP BY id
         |)
         |SELECT id, q0, q1, q2, q3,
         |  CAST((CASE WHEN 4*q0 > q0+q1+q2+q3 THEN 1 ELSE 0 END)
         |     + (CASE WHEN 4*q1 > q0+q1+q2+q3 THEN 2 ELSE 0 END)
         |     + (CASE WHEN 4*q2 > q0+q1+q2+q3 THEN 4 ELSE 0 END)
         |     + (CASE WHEN 4*q3 > q0+q1+q2+q3 THEN 8 ELSE 0 END)
         |    AS BIGINT) AS sig
         |FROM q ORDER BY id""".stripMargin),
    // the planted fmt/frame formulas, amplitude-free — a frame count
    // derived from a chunk SIZE instead of a sample walk must agree
    "mm_meta_wav" ->
      ("""SELECT doc_id AS id,
         |  CAST(1 + doc_id % 2 AS BIGINT) AS channels,
         |  CAST(8000 + 4000 * (doc_id % 3) AS BIGINT) AS sample_rate,
         |  CAST(16 + doc_id % 17 AS BIGINT) AS n_frames
         |FROM documents ORDER BY id""".stripMargin),
    // the planted dims; bit depth 8 / color type 2 (truecolor) are what
    // the JDK PNG writer emits for TYPE_INT_RGB, invariant over id
    "mm_meta_png" ->
      ("""SELECT doc_id AS id,
         |  CAST(1 + doc_id % 7 AS BIGINT) AS width,
         |  CAST(1 + doc_id % 5 AS BIGINT) AS height,
         |  CAST(8 AS BIGINT) AS bit_depth,
         |  CAST(2 AS BIGINT) AS color_type
         |FROM documents ORDER BY id""".stripMargin),
    // quadrant sums replayed as filtered range-sums of the planted
    // formula (k//3 is the pixel index, y = p//w, x = p%w); the bit is
    // 4·q > total — exact integers end to end
    "mm_phash" ->
      ("""WITH g AS (
         |  SELECT doc_id AS id, 2*(1 + doc_id % 3) AS w,
         |         2*(1 + doc_id % 2) AS h
         |  FROM documents
         |), q AS (
         |  SELECT id,
         |    CAST(list_sum([ (id*31 + 7*k) % 256 FOR k IN range(0, 3*w*h)
         |      IF ((k//3)//w < h//2) AND ((k//3)%w < w//2) ]) AS BIGINT) AS q0,
         |    CAST(list_sum([ (id*31 + 7*k) % 256 FOR k IN range(0, 3*w*h)
         |      IF ((k//3)//w < h//2) AND ((k//3)%w >= w//2) ]) AS BIGINT) AS q1,
         |    CAST(list_sum([ (id*31 + 7*k) % 256 FOR k IN range(0, 3*w*h)
         |      IF ((k//3)//w >= h//2) AND ((k//3)%w < w//2) ]) AS BIGINT) AS q2,
         |    CAST(list_sum([ (id*31 + 7*k) % 256 FOR k IN range(0, 3*w*h)
         |      IF ((k//3)//w >= h//2) AND ((k//3)%w >= w//2) ]) AS BIGINT) AS q3
         |  FROM g
         |)
         |SELECT id, q0, q1, q2, q3,
         |  CAST((CASE WHEN 4*q0 > q0+q1+q2+q3 THEN 1 ELSE 0 END)
         |     + (CASE WHEN 4*q1 > q0+q1+q2+q3 THEN 2 ELSE 0 END)
         |     + (CASE WHEN 4*q2 > q0+q1+q2+q3 THEN 4 ELSE 0 END)
         |     + (CASE WHEN 4*q3 > q0+q1+q2+q3 THEN 8 ELSE 0 END)
         |    AS BIGINT) AS sig
         |FROM q ORDER BY id""".stripMargin),
    // the planted dims; precision 8 / 3 components are what the JDK
    // baseline JPEG writer emits for TYPE_INT_RGB, invariant over id
    "mm_meta_jpeg" ->
      ("""SELECT doc_id AS id,
         |  CAST(1 + doc_id % 7 AS BIGINT) AS width,
         |  CAST(1 + doc_id % 5 AS BIGINT) AS height,
         |  CAST(8 AS BIGINT) AS precision,
         |  CAST(3 AS BIGINT) AS components
         |FROM documents ORDER BY id""".stripMargin),
    // block-mean replay: output channel (ox,oy,c) averages the four
    // planted bytes of its 2x2 block with round-half-up ((bsum+2)//4)
    "mm_resize" ->
      ("""WITH g AS (
         |  SELECT doc_id AS id, 2*(1 + doc_id % 3) AS w,
         |         2*(1 + doc_id % 2) AS h
         |  FROM documents
         |), o AS (
         |  SELECT id, w, h,
         |    ((id*31 + 7*(3*((2*oy+0)*w + 2*ox+0)+c)) % 256
         |   + (id*31 + 7*(3*((2*oy+0)*w + 2*ox+1)+c)) % 256
         |   + (id*31 + 7*(3*((2*oy+1)*w + 2*ox+0)+c)) % 256
         |   + (id*31 + 7*(3*((2*oy+1)*w + 2*ox+1)+c)) % 256) AS bsum
         |  FROM g, generate_series(0, 2) tx(ox),
         |       generate_series(0, 1) ty(oy), generate_series(0, 2) tc(c)
         |  WHERE ox < w//2 AND oy < h//2
         |)
         |SELECT id, CAST(w//2 AS BIGINT) AS out_w,
         |  CAST(h//2 AS BIGINT) AS out_h,
         |  CAST(sum((bsum+2)//4) AS BIGINT) AS out_sum
         |FROM o GROUP BY id, w, h
         |ORDER BY id""".stripMargin),
    "mm_features" ->
      ("""SELECT doc_id AS id, 'text' AS kind,
         |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
         |  CAST(list_sum([ascii(c) for c in string_split(text, '')]) AS BIGINT) AS byte_sum,
         |  CAST(ascii(substr(text, 1, 1)) + 1 AS INTEGER) AS width,
         |  CAST(CASE WHEN length(text) > 1 THEN ascii(substr(text, 2, 1)) + 1 ELSE 0 END AS INTEGER) AS height
         |FROM documents ORDER BY id""".stripMargin),
    // same derived feed, same latest-wins rule (seq desc, op desc),
    // anti-join + surviving-upsert union
    "merge_upsert" ->
      ("""WITH base AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |  FROM orders
         |), changes AS (
         |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice,
         |    'U' AS op, 1 AS seq FROM base WHERE o_orderkey % 10 = 3
         |  UNION ALL SELECT o_orderkey, o_custkey, 'Y', o_totalprice, 'U', 1
         |    FROM base WHERE o_orderkey % 10 = 7
         |  UNION ALL SELECT o_orderkey, o_custkey, 'Z', o_totalprice, 'D', 2
         |    FROM base WHERE o_orderkey % 10 = 7
         |  UNION ALL SELECT o_orderkey + 100000000, o_custkey, 'N',
         |    o_totalprice, 'I', 1 FROM base WHERE o_orderkey % 10 = 1
         |), latest AS (
         |  SELECT *, row_number() OVER (PARTITION BY o_orderkey
         |    ORDER BY seq DESC, op DESC) AS rnk FROM changes
         |  QUALIFY rnk = 1
         |)
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |FROM base b
         |WHERE NOT EXISTS (SELECT 1 FROM latest l
         |                  WHERE l.o_orderkey = b.o_orderkey)
         |UNION ALL
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |FROM latest WHERE op <> 'D'
         |ORDER BY o_orderkey""".stripMargin),
    // identical feed; versions chained with lead() per key, deletes close
    // but emit nothing, so m%10=7 keys end with no current row
    "merge_scd2" ->
      ("""WITH base AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice
         |  FROM orders
         |), changes AS (
         |  SELECT o_orderkey, o_custkey, 'X' AS o_orderstatus, o_totalprice,
         |    'U' AS op, CAST(1 AS BIGINT) AS seq
         |    FROM base WHERE o_orderkey % 10 = 3
         |  UNION ALL SELECT o_orderkey, o_custkey, 'Y', o_totalprice, 'U',
         |    CAST(1 AS BIGINT) FROM base WHERE o_orderkey % 10 = 7
         |  UNION ALL SELECT o_orderkey, o_custkey, 'X2', o_totalprice, 'U',
         |    CAST(2 AS BIGINT) FROM base WHERE o_orderkey % 10 = 3
         |  UNION ALL SELECT o_orderkey, o_custkey, 'Z', o_totalprice, 'D',
         |    CAST(2 AS BIGINT) FROM base WHERE o_orderkey % 10 = 7
         |  UNION ALL SELECT o_orderkey + 100000000, o_custkey, 'N',
         |    o_totalprice, 'I', CAST(1 AS BIGINT)
         |    FROM base WHERE o_orderkey % 10 = 1
         |), v AS (
         |  SELECT *, seq AS valid_from,
         |    lead(seq) OVER (PARTITION BY o_orderkey ORDER BY seq) AS valid_to
         |  FROM changes
         |)
         |SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
         |  valid_from, valid_to, (valid_to IS NULL) AS is_current
         |FROM v WHERE op <> 'D'
         |ORDER BY o_orderkey, valid_from""".stripMargin),
    // per-column stats; doubles quantized to cents before min/max so the
    // string rendering is integer on both engines
    "profile_stats" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_orderpriority", "o_price_c")
      val arms = cols.map { c =>
        s"""SELECT '$c' AS col_name,
           |  count(*) FILTER (WHERE $c IS NULL) AS n_nulls,
           |  count(DISTINCT $c) AS n_distinct,
           |  CAST(min($c) AS VARCHAR) AS min_val,
           |  CAST(max($c) AS VARCHAR) AS max_val FROM src""".stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH src AS (
         |  SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c
         |  FROM orders
         |)
         |$arms
         |ORDER BY col_name""".stripMargin
    },
    // the HllOracle pipeline replayed per profiled column over the
    // unpivoted (col_name, v) frame, joined to exact nulls/min/max
    "profile_stats_sketch" ->
      ("""WITH src AS (
         |  SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
         |    CAST(o_custkey AS BIGINT) AS o_custkey,
         |    CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS o_price_c
         |  FROM orders
         |), u AS (
         |  SELECT 'o_orderkey' AS col_name, o_orderkey AS v FROM src
         |  UNION ALL SELECT 'o_custkey', o_custkey FROM src
         |  UNION ALL SELECT 'o_price_c', o_price_c FROM src
         |), stats AS (
         |  SELECT col_name, count(*) FILTER (WHERE v IS NULL) AS n_nulls,
         |    CAST(min(v) AS VARCHAR) AS min_val,
         |    CAST(max(v) AS VARCHAR) AS max_val
         |  FROM u GROUP BY col_name
         |), x1 AS (
         |  SELECT col_name,
         |    ((v % 2147483647) + 2147483647) % 2147483647
         |      * 1103515245 % 2147483647 AS w
         |  FROM u WHERE v IS NOT NULL
         |), x2 AS (
         |  SELECT col_name, xor(w, w >> 15) AS w FROM x1
         |), x3 AS (
         |  SELECT col_name, w * 1566083941 % 2147483647 AS w FROM x2
         |), h AS (
         |  SELECT col_name, xor(w, w >> 13) AS hv FROM x3
         |), ranked AS (
         |  SELECT col_name, hv % 64 AS reg,
         |    CASE WHEN hv // 64 = 0 THEN 26
         |         ELSE 26 - length(printf('%b', hv // 64)) END AS rank
         |  FROM h
         |), regs AS (
         |  SELECT col_name, reg, max(rank) AS m_j
         |  FROM ranked GROUP BY col_name, reg
         |), state AS (
         |  SELECT col_name, count(*) AS n_regs,
         |    sum(CAST(1 AS BIGINT) << (26 - m_j)) AS isum_p
         |  FROM regs GROUP BY col_name
         |)
         |SELECT s.col_name, t.n_nulls, s.n_regs,
         |  CAST(s.isum_p + (64 - s.n_regs) * 67108864 AS BIGINT) AS isum,
         |  CAST(0.709 AS DOUBLE) * 4096 * 67108864 /
         |    CAST(s.isum_p + (64 - s.n_regs) * 67108864 AS DOUBLE)
         |    AS hll_estimate,
         |  t.min_val, t.max_val
         |FROM state s JOIN stats t USING (col_name)
         |ORDER BY col_name""".stripMargin),
  )
}
