package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text analysis over the `documents` table (TESTDATA.md): token counting
  * (whitespace + BPE-ish regex), quality scoring, language-ID heuristic and
  * rolling-hash fingerprinting. All narrow, codegen'd per-row expressions —
  * zero shuffles except where a groupBy is the point (language breakdown),
  * so every operator here scales linearly with input splits.
  */
object TextStats {

  private[ext] def toks(text: Column): Column = split(text, " ")

  /** Whitespace tokens, distinct tokens, and a BPE-ish regex token count
    * (letter runs / digit runs / single other chars — the usual cheap
    * pre-tokenizer approximation when the real BPE vocab isn't loadable). */
  def tokenStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    df.select(col(idCol),
      size(t).cast("long").as("n_tokens"),
      size(array_distinct(t)).cast("long").as("n_distinct"),
      size(expr(s"regexp_extract_all($textCol, '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)"))
        .cast("long").as("n_bpe"))
  }

  /** English-ish stopword list (shared with the quality oracle SQL). */
  val Stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "is")

  /** Quality-score components: char length, mean token length, stopword
    * ratio, punctuation ratio. Rounded to 4 decimals so any oracle agrees.
    * `passthrough` columns (e.g. lang for [[qualityCrosstab]]) ride along
    * unchanged. */
  def quality(df: DataFrame, idCol: String, textCol: String,
              passthrough: Seq[String] = Nil): DataFrame = {
    val t = toks(col(textCol))
    val nTok = size(t)
    val sumLen = aggregate(transform(t, w => length(w)),
      lit(0), (acc, x) => acc + x)
    val stopHits = size(filter(t, w => w.isin(Stopwords: _*)))
    val punct = length(col(textCol)) -
      length(regexp_replace(col(textCol), "[^a-z0-9 ]", ""))
    df.select(col(idCol) +: passthrough.map(col) ++: Seq(
      length(col(textCol)).cast("long").as("n_chars"),
      round(sumLen.cast("double") / nTok, 4).as("avg_token_len"),
      round(stopHits.cast("double") / nTok, 4).as("stopword_ratio"),
      round(punct.cast("double") / greatest(length(col(textCol)), lit(1)), 4)
        .as("punct_ratio")): _*)
  }

  /** Language × quality-gate contingency table: how much of each
    * language's sub-corpus the [[cleanPass]] thresholds would keep —
    * the per-slice audit run before committing to a cleaning config.
    * The metrics are scan-side expressions; the only shuffle is the tiny
    * (lang, kept) groupBy with map-side combine. */
  def qualityCrosstab(df: DataFrame, idCol: String, textCol: String,
                      langCol: String, minChars: Long,
                      minStopwordRatio: Double,
                      maxAvgTokenLen: Double): DataFrame =
    quality(df, idCol, textCol, Seq(langCol))
      .groupBy(col(langCol),
        (col("n_chars") >= minChars &&
          col("stopword_ratio") >= minStopwordRatio &&
          col("avg_token_len") <= maxAvgTokenLen).as("kept"))
      .agg(count(lit(1)).as("n"))

  /** Canonical text normalization: lowercase, control chars → space,
    * whitespace runs collapsed, ends trimmed — the cleanup every corpus
    * runs before fingerprinting/dedup so cosmetic variants collapse.
    * Pure row-local regex work inside whole-stage codegen (the patterns
    * stay in the Java ∩ RE2 portable subset, like [[graft.ext.Pii]]);
    * before/after lengths ride along for shrinkage audits. */
  def normalize(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val cleaned = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[\\x00-\\x1f]", " "), "  *", " "))
    df.select(col(idCol),
      length(col(textCol)).cast("long").as("n_chars_raw"),
      cleaned.as("norm_text"),
      length(cleaned).cast("long").as("n_chars_norm"))
  }

  /** Language breakdown: per-lang doc count, mean length, total tokens. */
  def langStats(df: DataFrame, langCol: String, textCol: String,
                charsCol: String): DataFrame =
    df.groupBy(col(langCol))
      .agg(count(lit(1)).as("n_docs"),
        round(avg(col(charsCol)), 4).as("avg_chars"),
        sum(size(toks(col(textCol)))).cast("long").as("total_tokens"))

  /** Tiny per-language stopword tables for the n-gram/stopword language-ID
    * heuristic. Deliberately small — the heuristic's value is its shape
    * (pure column expressions, no model artifacts), not its accuracy. */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist"),
    "fr" -> Seq("le", "la", "les", "et", "des", "une"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"),
  )

  /** Language-ID: argmax over per-language stopword-hit counts; ties break
    * by table order; zero hits everywhere → "und" (undetermined). */
  def langId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = toks(lower(col(textCol)))
    val scores = LangMarkers.map { case (lang, words) =>
      lang -> size(filter(t, w => w.isin(words: _*)))
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    val pred = scores.reverse.foldLeft(lit("und")) { case (acc, (lang, s)) =>
      when(s === best && best > 0, lang).otherwise(acc)
    }
    df.select(col(idCol), pred.as("pred_lang"), best.cast("long").as("score"))
  }

  /** Rabin-Karp rolling fingerprint over the character stream:
    * fold(acc * 31 + codepoint) mod 1e9+7. A cheap content-defined document
    * fingerprint, evaluated by one codegen'd code-point loop
    * ([[graft.functions.RollingFingerprint]]) — arithmetic verified
    * identical to the SQL-replayable split/ascii/aggregate fold the
    * oracles use, surrogate pairs included. */
  def rollingFingerprint(text: Column): Column =
    graft.functions.FingerprintFunctions.rolling_fingerprint(text)

  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), rollingFingerprint(col(textCol)).as("fp"))

  /** Quality-gate cleaning pass — the C4-style keep/drop filter every
    * pretraining corpus goes through: keep documents inside a quality
    * envelope (long enough, stopword-bearing, sane token lengths).
    * Composes the [[quality]] metrics and thresholds their ROUNDED values,
    * so an external engine reproduces the exact keep set (thresholding the
    * unrounded doubles would disagree at representation boundaries). All
    * narrow per-row expressions — the gate rides the scan, no shuffle. */
  def cleanPass(df: DataFrame, idCol: String, textCol: String,
                minChars: Long, minStopwordRatio: Double,
                maxAvgTokenLen: Double): DataFrame =
    quality(df, idCol, textCol)
      .filter(col("n_chars") >= minChars &&
        col("stopword_ratio") >= minStopwordRatio &&
        col("avg_token_len") <= maxAvgTokenLen)

  /** Exact per-group median of an integer column: rank within the group,
    * keep the middle row (odd n) or middle two (even n), average them.
    * sum/count over at most two exact integers is engine-portable double
    * arithmetic — unlike percentile_approx (algorithm-defined, no external
    * oracle can reproduce it) or interpolated percentile built-ins (engines
    * disagree on the interpolation formula).
    *
    * Cost is the honest exact-median cost: one shuffle on the group and an
    * in-partition sort. At 100 TB with huge groups, reach for
    * percentile_approx and give up oracle-exactness consciously. */
  def groupMedian(df: DataFrame, groupCol: String, valCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byGrp = Window.partitionBy(col(groupCol))
    val ranked = df.select(col(groupCol), col(valCol))
      .withColumn("__rn", row_number().over(byGrp.orderBy(col(valCol))))
      .withColumn("__n", count(lit(1)).over(byGrp))
    ranked
      .filter(col("__rn") === expr("(__n + 1) div 2") ||
        col("__rn") === expr("(__n + 2) div 2"))
      .groupBy(col(groupCol))
      .agg(max(col("__n")).as("n_docs"),
        (sum(col(valCol)).cast("double") / count(lit(1))).as("median"))
  }

  /** Document-length histogram: fixed-width buckets over a length column —
    * the first plot of any corpus audit (truncation spikes, boilerplate
    * bands, empty-doc mass all show up here). One partial-aggregated
    * shuffle of |buckets| rows; min/max per bucket are exact integers so
    * any engine agrees bit-for-bit. */
  def lenHistogram(df: DataFrame, lenCol: String, width: Int): DataFrame = {
    require(width > 0, "bucket width must be positive")
    df.groupBy(floor(col(lenCol) / width).cast("long").as("bucket"))
      .agg(count(lit(1)).as("n_docs"),
        min(col(lenCol)).as("min_len"),
        max(col(lenCol)).as("max_len"))
  }

  /** Hashing-trick vectorizer: every token occurrence maps to
    * `polyhash(token) mod buckets`, counted per (doc, bucket) — the
    * fixed-width bag-of-words features a downstream model consumes
    * without ever materializing a vocabulary (no fit pass, no broadcast,
    * stable under corpus growth — the properties that make the hashing
    * trick the scale default over [[vocabEncode]]).
    *
    * The hash is the [[graft.functions.TokenPolyHashes]] 62-bit
    * polynomial — codegen'd per row here, and replayable in plain SQL
    * (`list_reduce` over code points, same as the certified SimHash
    * oracle), which is what lets the bucket assignment itself be
    * certified rather than trusted. One explode + one (doc, bucket)
    * groupBy with map-side combine. */
  def hashVectorize(df: DataFrame, idCol: String, textCol: String,
                    buckets: Int): DataFrame = {
    require(buckets > 0, s"buckets must be positive, got $buckets")
    df.select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .filter(col("t") =!= "")
      .select(col(idCol),
        pmod(element_at(
          graft.functions.ShingleFunctions.token_poly_hashes(col("t")), 1),
          lit(buckets.toLong)).as("bucket"))
      .groupBy(col(idCol), col("bucket"))
      .agg(count(lit(1)).as("n"))
  }

  /** Model-based quality filtering — the fineweb-edu / DCLM pipeline
    * stage where a LEARNED classifier, not a heuristic, decides what
    * survives: linear-model inference over [[hashVectorize]]'s
    * hashing-trick features, executed without ever materializing the
    * feature vector. Per token the bucket weight is looked up in a
    * plan-literal array (`element_at(typedLit(w), bucket+1)` — a
    * broadcast-free constant inside codegen) and summed per document:
    * `logit(doc) = Σ_tokens w[polyhash(t) mod buckets]`, exactly the
    * dot product ⟨w, counts⟩ by distributivity. One scan + one
    * map-side-combined per-doc sum — the same cost as counting tokens,
    * at ANY model width that fits a literal (capped loudly; a 100k-dim
    * model ships ~800 KB inside the plan, fine; past that, carry
    * weights as a broadcast join on bucket instead).
    *
    * Integer weights + integer threshold keep inference engine-exact
    * (certified with planted deterministic weights; a real model's
    * trained weights quantize to fixed-point the same way). Documents
    * with zero tokens have no feature mass and emit no row — score a
    * frame joined back to the corpus when empty docs need a verdict. */
  def modelScore(df: DataFrame, idCol: String, textCol: String,
                 weights: Seq[Long], threshold: Long): DataFrame = {
    val buckets = weights.length
    require(buckets > 0, "need at least one weight")
    require(buckets <= (1 << 20),
      s"$buckets weights exceed the plan-literal cap (1M) — carry the " +
        "model as a broadcast (bucket, weight) join instead")
    df.select(col(idCol), explode(split(col(textCol), " ")).as("t"))
      .filter(col("t") =!= "")
      .select(col(idCol),
        element_at(typedLit(weights),
          (pmod(element_at(
            graft.functions.ShingleFunctions.token_poly_hashes(col("t")), 1),
            lit(buckets.toLong)).cast("int") + 1)).as("w"))
      .groupBy(col(idCol))
      .agg(sum(col("w")).as("logit"))
      .withColumn("kept", col("logit") >= threshold)
  }

  /** Equi-DEPTH length buckets — [[lenHistogram]]'s dual: bucket
    * boundaries placed so each bucket holds ~|corpus|/buckets documents,
    * the histogram a query planner or a curriculum sampler actually wants
    * when the length distribution is skewed.
    *
    * Formulation chosen for scale: documents are NEVER globally ranked
    * (an ntile over the corpus would sort 100 TB into one partition).
    * Instead the length DISTRIBUTION is aggregated first — one row per
    * distinct length, metadata-sized — and the cumulative walk runs over
    * that tiny frame; docs with equal lengths land in the same bucket by
    * construction (an equi-depth boundary can only sit between distinct
    * values). `bucket = (cum_before · buckets) div total` in exact integer
    * arithmetic, so the cut points are engine-portable. */
  def lenDeciles(df: DataFrame, lenCol: String, buckets: Int = 10): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    val counts = df.groupBy(col(lenCol)).agg(count(lit(1)).as("cnt"))
    // deliberately UNPARTITIONED window ("WindowExec: No Partition
    // Defined" is expected): it runs over `counts` — one row per DISTINCT
    // length, an aggregated metadata-sized frame, never over documents
    val w = org.apache.spark.sql.expressions.Window.orderBy(col(lenCol))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    counts
      .withColumn("cum0", sum(col("cnt")).over(w) - col("cnt"))
      .crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
      .withColumn("bucket", expr(s"(cum0 * $buckets) div total"))
      .groupBy(col("bucket"))
      .agg(sum(col("cnt")).as("n_docs"),
        min(col(lenCol)).as("min_len"),
        max(col(lenCol)).as("max_len"))
  }

  /** Exact per-group type-1 (lower) quantiles of an integer column: the
    * value at rank ceil(n·p/100), computed as (n·p + 99) div 100 — pure
    * integer arithmetic, so every engine selects the identical element
    * (interpolated percentile built-ins disagree on the formula;
    * percentile_approx is algorithm-defined and externally unreproducible).
    * All requested percentiles ride ONE ranking window + one explode —
    * adding a percentile costs nothing.
    *
    * Same honest cost note as [[groupMedian]]: one shuffle on the group
    * and an in-partition sort; at extreme per-group cardinality reach for
    * approx sketches and give up oracle-exactness consciously. */
  def groupQuantiles(df: DataFrame, groupCol: String, valCol: String,
                     percents: Seq[Int]): DataFrame = {
    require(percents.nonEmpty && percents.forall(p => p >= 1 && p <= 100),
      "percents must be in [1, 100]")
    import org.apache.spark.sql.expressions.Window
    val byGrp = Window.partitionBy(col(groupCol))
    df.select(col(groupCol), col(valCol))
      .withColumn("__rn", row_number().over(byGrp.orderBy(col(valCol))))
      .withColumn("__n", count(lit(1)).over(byGrp))
      .select(col(groupCol), col(valCol),
        col("__rn"), col("__n"),
        explode(array(percents.map(p => lit(p.toLong)): _*)).as("pct"))
      // `div`, not `/`: Column./ is double division and double rank
      // arithmetic is exactly the cross-engine drift this op exists to avoid
      .filter(col("__rn") === expr("(__n * pct + 99) div 100"))
      .select(col(groupCol), col("pct"), col(valCol).as("q_value"))
  }

  /** Per-document top-k terms by tf-idf — the keyword/topic probe. The
    * idf factor is integer-quantized ((N·10^6) div df) so the score
    * tf·idf_q is exact 64-bit arithmetic, reproducible by any engine
    * (a float log-idf would disagree in the last ulp and flip rank-k
    * boundaries). Rank ties break on the term so the k-boundary is
    * deterministic.
    *
    * Plan: explode → (doc, term) counts (map-side partials) → term doc
    * frequencies (aggregated FROM the tf frame — one row per distinct
    * pair, not re-exploded) → equi-join tf⋈df on the term → one ranking
    * window per doc. The corpus-size scalar joins in as a broadcast
    * single-row frame, never a driver-side collect. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
                    k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: read twice (doc frequencies are aggregated from it AND it
    // is the left join side) — without this the explode+aggregate runs
    // twice. Released by Dedup.unpersistAll (shared TrackedCache).
    val tf = TrackedCache.persistTracked(
      df.select(col(idCol).as("doc_id"),
          col(textCol).as("__t"))
        .select(col("doc_id"), explode(toks(col("__t"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val total = df.agg(count(lit(1)).as("__n_docs"))
    val scored = tf.join(dfreq, "term")
      .crossJoin(broadcast(total))
      .withColumn("score", // integer div: exact in every engine
        col("tf") * expr("(__n_docs * 1000000) div df_docs"))
    scored
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("score"))
  }

  /** Vocabulary build + token-id encoding — the tokenizer-fitting step of
    * a pretraining pipeline: rank the corpus's `vocabSize` most frequent
    * terms (occurrence count, ties broken by term so the id assignment is
    * deterministic), then re-emit every token position as its vocabulary
    * id, unknown tokens as -1.
    *
    * Plan: one explode → term-count aggregate (map-side partials) →
    * WindowGroupLimit-style rank cut for the vocab, then a second explode
    * joined against the vocab. The vocab is bounded by construction
    * (`vocabSize` rows), so Spark broadcasts it and the encode pass is a
    * scan-parallel map — the corpus never shuffles to be encoded, at any
    * scale. Output is (doc, pos, tok_id) rows rather than an id array:
    * downstream packing wants the long layout anyway, and it keeps every
    * value a comparable scalar. */
  def vocabEncode(df: DataFrame, idCol: String, textCol: String,
                  vocabSize: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(vocabSize > 0, "vocabSize must be positive")
    val toksPos = df.select(col(idCol).as("doc_id"),
      posexplode(toks(col(textCol))).as(Seq("pos", "term")))
    // top-k FIRST (TakeOrderedAndProject — per-partition heaps, no global
    // sort of the vocabulary), THEN the id-assigning rank window over the
    // bounded k-row result. Ranking the full term table directly would be
    // an unpartitioned window — every distinct term on one reducer.
    val vocab = toksPos.groupBy(col("term"))
      .agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term").asc).limit(vocabSize)
      // deliberately UNPARTITIONED window ("WindowExec: No Partition
      // Defined" is expected): ranks the ≤vocabSize-row limited frame
      .withColumn("tok_id", row_number().over(
        Window.orderBy(col("freq").desc, col("term").asc)).cast("long"))
      .select(col("term"), col("tok_id"))
    toksPos.join(broadcast(vocab), Seq("term"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        coalesce(col("tok_id"), lit(-1L)).as("tok_id"))
  }

  /** Greedy longest-prefix subword encoding — the tokenizer-exact step
    * past [[vocabEncode]]'s word ids: each DISTINCT word is split into
    * vocabulary pieces by repeated longest-prefix match (the WordPiece /
    * BPE-inference greedy rule). The piece vocabulary derives from the
    * corpus itself: the `topK` most frequent words (freq desc, then word —
    * deterministic ties) plus every single character of the distinct
    * words, so the match always progresses and unknown words degrade to
    * characters instead of failing.
    *
    * Scale shape: encoding runs over DISTINCT words (the tokenizer-cache
    * trick — occurrence-level ids are one broadcast join away), the
    * greedy loop is a row-local HOF fold (`aggregate` over the word's
    * length — each step consumes ≥1 character), and the vocabulary is
    * METADATA-sized by construction (topK + charset, a few KB) so it
    * ships as a plan literal, not a join. Driver work is two bounded
    * collects — the same contract as [[graft.ext.Bloom]]'s word cap.
    *
    * Output: (word, piece_pos ≥ 1, piece) — one row per emitted piece in
    * greedy order, exploded scalars for oracle comparability. */
  def subwordEncode(df: DataFrame, textCol: String, topK: Int = 16,
                    maxChars: Int = 2048): DataFrame = {
    require(topK > 0, "topK must be positive")
    // Persist the (word, freq) AGGREGATE, not the exploded occurrence
    // frame: every downstream pass (top-K collect, charset collect,
    // distinct-word encode) needs only the vocabulary-sized result, so
    // the corpus is scanned and the one aggregation shuffle paid exactly
    // once, and the cache holds vocabulary rows instead of corpus rows.
    // (The earlier occurrence-level persist also ran a SECOND corpus
    // shuffle for `words.distinct()` — pinned as half the query's warm
    // cost at sf0.1.) Released by Dedup.unpersistAll (shared
    // TrackedCache). The persist is also the fusion BARRIER documented
    // at bpeEncode: without it the optimizer merges the encode fold into
    // the aggregate's result expressions, disqualifying the codegen fast
    // hashmap (measured 5.7 s vs 0.8 s at sf0.1).
    val wf = TrackedCache.persistTracked(
      df.select(explode(filter(toks(col(textCol)),
          w => w =!= "")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val top = wf.orderBy(col("freq").desc, col("word").asc).limit(topK)
      .select("word").collect().map(_.getString(0)).toSeq
    val dwords = wf.select(col("word"))
    // the fetch is bounded BEFORE materializing (the lmScore guard
    // discipline): limit(cap + 1) makes the guard itself cap-sized, and
    // one extra row is exactly the over-cap proof — the distinct UTF-16
    // code-unit set is intrinsically bounded, so this is belt-and-braces
    // consistency, not an OOM fix
    val charCap = vocabFetchCap(maxChars.toLong)
    val chars = dwords
      .select(explode(filter(split(col("word"), ""), c => c =!= "")).as("c"))
      .distinct().limit(charCap).collect().map(_.getString(0)).toSeq
    require(chars.size <= maxChars,
      s"corpus has more than $maxChars distinct characters (cap) — " +
        "a binary/multilingual blob corpus wants a byte-level vocabulary, " +
        "not this character fallback")
    val vocab = (top ++ chars).distinct
    val maxLen = vocab.map(_.length).max
    val inVocab = typedLit(vocab.map(_ -> 1).toMap)
    val enc = dwords.select(col("word"),
      aggregate(
        sequence(lit(1), length(col("word"))),
        struct(col("word").as("rem"),
          array().cast("array<string>").as("ps")),
        (acc, _) => {
          val rem = acc.getField("rem")
          // longest vocab piece prefixing the remainder: candidate
          // lengths descend, first hit wins
          val m = element_at(
            filter(
              transform(sequence(least(length(rem), lit(maxLen)), lit(1),
                lit(-1)), l => rem.substr(lit(1), l)),
              p => element_at(inVocab, p).isNotNull),
            1)
          val go = length(rem) > 0 && m.isNotNull
          struct(
            when(go, rem.substr(length(m) + 1, lit(Int.MaxValue)))
              .otherwise(rem).as("rem"),
            when(go, concat(acc.getField("ps"), array(m)))
              .otherwise(acc.getField("ps")).as("ps"))
        }).getField("ps").as("ps"))
    enc.select(col("word"),
      posexplode(col("ps")).as(Seq("piece_pos", "piece")))
      .select(col("word"),
        (col("piece_pos") + 1).cast("long").as("piece_pos"), col("piece"))
  }

  /** Learn an ordered BPE merge-rule table from a (word, frequency)
    * dictionary — EXACT byte-pair-encoding training (Sennrich et al.,
    * arXiv:1508.07909; the algorithm behind GPT-2/HF tokenizers): every
    * round counts adjacent symbol pairs weighted by word frequency
    * (every adjacent position, the reference trainers' convention),
    * merges the most frequent pair everywhere (left-to-right,
    * non-overlapping), and records the rule. Deterministic tie-break:
    * count desc, then (left, right) lexicographically — so any engine
    * replaying the same dictionary learns the same table.
    *
    * Driver-side BY DESIGN, like every reference BPE trainer: training
    * state is the distinct-word dictionary (bounded, collected loudly by
    * [[bpeEncode]]), not the corpus. Throws when the dictionary runs out
    * of pairs before `numMerges` — a silently-short merge table would
    * desynchronize from any oracle replaying the full unrolled rounds. */
  private[graft] def learnBpeMerges(wordFreq: Seq[(String, Long)],
                                    numMerges: Int): Seq[(String, String)] = {
    require(numMerges > 0, s"numMerges must be positive, got $numMerges")
    var segs = wordFreq.map { case (w, f) =>
      (w.split("").filter(_.nonEmpty).toVector, f)
    }.toVector
    val out = Vector.newBuilder[(String, String)]
    for (round <- 1 to numMerges) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts.update(p, counts.getOrElse(p, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) throw new IllegalStateException(
        s"learnBpeMerges: dictionary exhausted pairs at round $round of " +
          s"$numMerges — every word is one symbol; lower numMerges")
      val best = counts.toSeq
        .sortBy { case ((l, r), c) => (-c, l, r) }.head._1
      out += best
      segs = segs.map { case (syms, f) => (applyBpeMerge(syms, best), f) }
    }
    out.result()
  }

  /** One exhaustive left-to-right non-overlapping application of a merge
    * rule — the training-side re-segmentation step. */
  private def applyBpeMerge(syms: Vector[String],
                            m: (String, String)): Vector[String] = {
    val buf = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == m._1 && syms(i + 1) == m._2) {
        buf += syms(i) + syms(i + 1); i += 2
      } else { buf += syms(i); i += 1 }
    }
    buf.result()
  }

  /** Merges-exact BPE: learn `numMerges` rules from the corpus's own
    * word-frequency dictionary ([[learnBpeMerges]]), then encode every
    * DISTINCT word with the reference iterative algorithm — repeatedly
    * find the LOWEST-RANK rule present among the word's adjacent symbol
    * pairs and merge all its occurrences — exactly what GPT-2's `bpe()`
    * and the HF tokenizers do, where [[subwordEncode]] is only
    * greedy-longest-prefix WordPiece. On words the dictionary was trained
    * on (here: all of them), the result equals the training-time
    * segmentation, which is what an external oracle can replay by
    * unrolling the training rounds.
    *
    * Scale shape: the corpus never leaves the cluster — one shuffle
    * builds the (word, freq) dictionary, which is the ONLY thing
    * collected (capped loudly at `maxTrainWords`, the same contract as
    * [[graft.ext.Bloom]]: reference BPE trainers are dictionary-resident
    * by nature, and a web-scale corpus first shards/samples its
    * dictionary). The merge table ships back as a plan literal
    * (numMerges entries — KB), and encoding is a row-local nested fold
    * over the tokenizer-cache distinct words: outer loop bounded by word
    * length (every merge removes a symbol), inner pass merges the argmin
    * pair left-to-right. The distinct-word frame is persisted both as a
    * reuse point and as the aggregate-fusion barrier [[subwordEncode]]
    * documents.
    *
    * Output: (word, piece_pos ≥ 1, piece) exploded scalars, like
    * [[subwordEncode]]. */
  def bpeEncode(df: DataFrame, textCol: String, numMerges: Int = 8,
                maxTrainWords: Int = 200000): DataFrame = {
    // vocabulary-sized persist, like subwordEncode: the dictionary collect
    // and the encode pass both read the (word, freq) aggregate — one
    // corpus scan, one shuffle, vocabulary rows cached
    val wf = TrackedCache.persistTracked(
      df.select(explode(filter(toks(col(textCol)),
          w => w =!= "")).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val dict = wf.orderBy(col("word")).limit(maxTrainWords + 1).collect()
    require(dict.length <= maxTrainWords,
      s"bpeEncode: corpus has > $maxTrainWords distinct words — BPE " +
        "training is dictionary-resident; sample or shard the dictionary " +
        "(or raise the cap explicitly for a bounded corpus)")
    val merges = learnBpeMerges(
      dict.map(r => (r.getString(0), r.getLong(1))).toSeq, numMerges)
    // pair key = "<len(l)>:<l><r>" — the length prefix pins the split
    // point, so the key is collision-free for ANY symbol contents (no
    // separator character that raw corpus text could also contain) and
    // the source stays pure text (no control bytes in literals)
    val rankMap = typedLit(merges.zipWithIndex.map { case ((l, r), i) =>
      (s"${l.length}:$l$r") -> (i + 1)
    }.toMap)
    // the distinct words are the dictionary keys — wf is already the
    // persisted vocabulary-sized frame (and the fusion barrier; see
    // subwordEncode), so the encode rides its cache directly
    val dwords = wf.select(col("word"))
    // try_element_at: under ANSI, a plain element_at throws on the
    // i+1 > size probe at the last symbol instead of yielding the null
    // that means "no pair here"
    val pairRank = (syms: Column, i: Column) =>
      try_element_at(rankMap, concat(
        length(try_element_at(syms, i)).cast("string"), lit(":"),
        try_element_at(syms, i), try_element_at(syms, i + 1)))
    val enc = dwords.select(col("word"),
      aggregate(
        sequence(lit(1), length(col("word"))),
        filter(split(col("word"), ""), c => c =!= ""),
        (syms, _) => {
          // lowest-rank rule among the adjacent pairs, if any
          val minR = array_min(transform(
            sequence(lit(1), greatest(size(syms) - 1, lit(1))),
            i => pairRank(syms, i)))
          when(size(syms) <= 1 || minR.isNull, syms).otherwise(
            // merge every left-to-right non-overlapping occurrence of
            // the argmin pair (ranks are unique, so rank identifies it)
            aggregate(
              sequence(lit(1), size(syms)),
              struct(array().cast("array<string>").as("out"),
                lit(false).as("skip")),
              (st, i) => {
                val isPair = pairRank(syms, i) <=> minR
                when(st.getField("skip"),
                  struct(st.getField("out").as("out"),
                    lit(false).as("skip")))
                  .otherwise(when(isPair,
                    struct(concat(st.getField("out"),
                      array(concat(try_element_at(syms, i),
                        try_element_at(syms, i + 1)))).as("out"),
                      lit(true).as("skip")))
                    .otherwise(struct(concat(st.getField("out"),
                      array(try_element_at(syms, i))).as("out"),
                      lit(false).as("skip"))))
              }).getField("out"))
        }).as("ps"))
    enc.select(col("word"),
      posexplode(col("ps")).as(Seq("piece_pos", "piece")))
      .select(col("word"),
        (col("piece_pos") + 1).cast("long").as("piece_pos"), col("piece"))
  }

  /** Sliding-window token chunking — the RAG / context-window splitting
    * step: fixed `chunk`-token windows every `stride` tokens (overlap =
    * chunk − stride). Emits (doc, chunk_idx, chunk_len, first/last term)
    * — the boundary terms pin the exact split externally without
    * shipping chunk text twice. Pure row-local array arithmetic plus one
    * generator; no shuffle, scales with input splits. */
  def tokenChunks(df: DataFrame, idCol: String, textCol: String,
                  chunk: Int, stride: Int): DataFrame = {
    require(chunk > 0 && stride > 0 && stride <= chunk,
      "need 0 < stride <= chunk (stride > chunk would drop tokens)")
    val t = toks(col(textCol))
    // null-guarded grid: posexplode of a null array drops the row, so a
    // null-text document emits no chunks (matching the oracle's
    // range(0, NULL, stride)) instead of one garbage length -1 row
    df.select(col(idCol).as("doc_id"), t.as("__t"),
        size(t).as("__n"),
        posexplode(when(col(textCol).isNotNull,
          sequence(lit(0), greatest(size(t) - 1, lit(0)), lit(stride))))
          .as(Seq("chunk_idx", "start")))
      .select(col("doc_id"), col("chunk_idx").cast("long").as("chunk_idx"),
        least(lit(chunk), col("__n") - col("start")).cast("long")
          .as("chunk_len"),
        element_at(col("__t"), col("start") + 1).as("first_term"),
        element_at(col("__t"),
          col("start") + least(lit(chunk), col("__n") - col("start")))
          .as("last_term"))
  }

  /** Corpus top-k bigrams by document frequency — the n-gram language-model
    * / boilerplate-phrase probe. Distinct word bigrams per document (the
    * [[Dedup.shingles]] n=2 formulation: a sub-2-token document contributes
    * its whole text) → count per bigram → top-k, same plan shape and
    * determinism contract as [[topTerms]]. */
  def bigramTopTerms(df: DataFrame, textCol: String, k: Int): DataFrame =
    Par.fanOut(df.select(col(textCol)))
      .select(explode(Dedup.shingles(col(textCol), 2)).as("bigram"))
      .groupBy(col("bigram"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("bigram").asc)
      .limit(k)

  /** Corpus top-k terms by document frequency — the vocabulary /
    * boilerplate / contamination probe every corpus audit starts with.
    *
    * explode(distinct per-doc tokens) → count per term → top-k. The
    * groupBy gets map-side partial aggregation (the shuffle carries one
    * row per (split, term), not one per occurrence) and the final top-k
    * plans as TakeOrderedAndProject — no global sort of the vocabulary.
    * Tie-break on the term itself keeps the k-boundary deterministic. */
  def topTerms(df: DataFrame, textCol: String, k: Int): DataFrame =
    df.select(col(textCol))
      .select(explode(array_distinct(toks(col(textCol)))).as("term"))
      .groupBy(col("term"))
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("term").asc)
      .limit(k)

  /** Gopher-style intra-document repetition metrics — the quality signals
    * that catch degenerate generations and boilerplate loops (Rae et al.
    * 2021 §A1.1 use exactly these to filter MassiveText): the fraction of
    * bigram positions occupied by a repeated bigram, and the fraction of
    * the document given to its single most frequent token.
    *
    * All row-local array arithmetic riding the scan — no shuffle, scales
    * with input splits. The top-token pass is O(distinct·n) per row, the
    * honest exact cost; ratios are computed on exact integers and rounded
    * to 4 decimals so any engine reproduces them bit-for-bit. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = toks(col(textCol))
    val n = size(t)
    val nBig = n - 1
    // occurrence bigrams via positional zip; distinct count gives the
    // duplicated mass as (occurrences - distinct)
    val bigrams = zip_with(slice(t, lit(1), greatest(nBig, lit(0))),
      slice(t, lit(2), greatest(nBig, lit(0))), (a, b) => concat_ws(" ", a, b))
    val topCount = array_max(transform(array_distinct(t),
      w => size(filter(t, x => x === w))))
    df.select(col(idCol),
      n.cast("long").as("n_tokens"),
      when(nBig < 1, lit(0.0))
        .otherwise(round((nBig - size(array_distinct(bigrams)))
          .cast("double") / nBig, 4)).as("dup_bigram_frac"),
      round(topCount.cast("double") / greatest(n, lit(1)), 4)
        .as("top_token_frac"))
  }

  /** Corpus PMI collocations — the top-k word pairs whose co-occurrence
    * most exceeds independence, the classic collocation / multi-word-
    * expression probe (Church & Hanks 1990). The PMI ratio
    * P(x,y)/(P(x)P(y)) is computed as the integer rational
    *
    *   c_xy · N_uni² / (N_big · c_x · c_y)
    *
    * — exact 64-bit products on both sides of ONE double division, so
    * every engine ranks identically (a log-space float PMI drifts in the
    * last ulp and flips rank-k boundaries). Long arithmetic holds while
    * c_xy·N_uni² < 2⁶³ (≈10¹⁸ — beyond that lift the products to
    * decimal(38,0), same shape).
    *
    * Plan: one explode → bigram counts (map-side partials), one explode →
    * unigram counts. The unigram table is vocabulary-sized, so both x- and
    * y-side lookups broadcast; the corpus totals ride one broadcast row;
    * the k-boundary plans as TakeOrderedAndProject with a deterministic
    * (x, y) tie-break. `minCount` prunes hapax noise before the joins. */
  def pmiTopBigrams(df: DataFrame, textCol: String, minCount: Long,
                    k: Int): DataFrame = {
    val t = toks(col(textCol))
    val nBig = greatest(size(t) - 1, lit(0))
    // one text projection feeds both explode passes; no fan-out — the
    // tokenize kernel is light relative to the bigram-count shuffle and
    // the extra exchange measured slower (r21 driver bench)
    val dfF = df.select(col(textCol))
    val pairs = dfF.select(explode(zip_with(slice(t, lit(1), nBig),
      slice(t, lit(2), nBig),
      (a, b) => struct(a.as("x"), b.as("y")))).as("p"))
      .select(col("p.x").as("x"), col("p.y").as("y"))
    val cxy = pairs.groupBy(col("x"), col("y"))
      .agg(count(lit(1)).as("c_xy"))
      .filter(col("c_xy") >= minCount)
    val uni = dfF.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
    // totals from one row-local aggregate over the docs — not a second
    // pass over the exploded pairs
    val tot = df.agg(sum(size(t)).as("__nu"), sum(nBig).as("__nb"))
    cxy
      .join(broadcast(uni.select(col("w").as("x"), col("c").as("c_x"))), "x")
      .join(broadcast(uni.select(col("w").as("y"), col("c").as("c_y"))), "y")
      .crossJoin(broadcast(tot))
      .withColumn("score",
        (col("c_xy") * col("__nu") * col("__nu")).cast("double") /
          (col("__nb") * col("c_x") * col("c_y")).cast("double"))
      .select(col("x"), col("y"), col("c_xy"), col("c_x"), col("c_y"),
        col("score"))
      .orderBy(col("score").desc, col("x").asc, col("y").asc)
      .limit(k)
  }

  /** Inverted-index construction — term → capped, sorted posting list,
    * the retrieval-side artifact of a RAG / search pipeline. Emitted as
    * (term, df_docs, slot, doc_id) rows rather than list columns: the long
    * layout is what a posting-file writer wants, and every value stays a
    * comparable scalar for certification.
    *
    * The document-frequency band [minDf, maxDf] is applied BEFORE any
    * posting is materialized — hapax noise and stop-word terms (whose
    * posting lists are the corpus itself) never reach the window — so the
    * per-term state is bounded by maxDf at any corpus size; `cap` then
    * prunes each list to its head via a rank that Spark 4 plans as
    * WindowGroupLimit (per-partition partial prune before the shuffle).
    * The pairs frame is read twice (df aggregate + join back), hence
    * tracked-persisted like [[tfidfTopTerms]]'s tf frame. */
  def postings(df: DataFrame, idCol: String, textCol: String,
               minDf: Long, maxDf: Long, cap: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = TrackedCache.persistTracked(
      df.select(col(idCol).as("doc_id"), col(textCol))
        .select(col("doc_id"),
          explode(array_distinct(toks(col(textCol)))).as("term")))
    val band = pairs.groupBy(col("term"))
      .agg(count(lit(1)).as("df_docs"))
      .filter(col("df_docs") >= minDf && col("df_docs") <= maxDf)
    pairs.join(band, "term")
      .withColumn("slot", row_number().over(
        Window.partitionBy(col("term")).orderBy(col("doc_id"))))
      .filter(col("slot") <= cap)
      .select(col("term"), col("df_docs"),
        col("slot").cast("long").as("slot"), col("doc_id"))
  }

  /** Per-document BM25 top-k terms — the ranking function behind lexical
    * retrieval, with EXACT cross-engine arithmetic. With k1 = 6/5 and
    * b = 3/4, the classic tf side
    *
    *   tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *
    * clears denominators against avgdl = S/N (S = corpus token count,
    * N = docs) into the integer-exact rational
    *
    *   22·S·tf / (10·S·tf + 3·S + 9·dl·N)
    *
    * whose one double division is IEEE-identical in every engine; the idf
    * side reuses [[tfidfTopTerms]]'s integer-quantized (N·10⁶ div df).
    * score = floor(ratio · idf_q6 + 0.5) — fixed op order, bit-portable.
    * Long arithmetic holds while S·tf < 2⁶³/22 (≈ 4·10¹⁷ token-occurrence
    * products — beyond that, lift num/den to decimal(38,0) and keep the
    * same shape).
    *
    * Plan: the tf frame is tracked-persisted (df aggregate + doc lengths +
    * join all read it), the two corpus totals ride one broadcast row, and
    * the top-k rank is WindowGroupLimit-pruned. */
  def bm25TopTerms(df: DataFrame, idCol: String, textCol: String,
                   k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = TrackedCache.persistTracked(
      df.select(col(idCol).as("doc_id"),
          col(textCol).as("__t"))
        .select(col("doc_id"), explode(toks(col("__t"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))
    val dl = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df_docs"))
    val tot = dl.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__s"))
    val num = lit(22L) * col("__s") * col("tf")
    val den = lit(10L) * col("__s") * col("tf") + lit(3L) * col("__s") +
      lit(9L) * col("dl") * col("__n")
    val idf = expr("(__n * 1000000) div df_docs")
    val score = floor(num.cast("double") / den.cast("double") *
      idf.cast("double") + lit(0.5)).cast("long")
    tf.join(dl, "doc_id").join(dfreq, "term")
      .crossJoin(broadcast(tot))
      .withColumn("score", score)
      .withColumn("rnk", row_number().over(Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("term").asc)))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
        col("term"), col("score"))
  }

  /** C4-style repeated-line removal (Raffel et al. 2020 §2.2 "we discarded
    * any line that occurred more than once in the data set" — here the
    * threshold is distinct-document count, the boilerplate-robust variant):
    * a line appearing in ≥ `minDocs` DISTINCT documents is corpus-global
    * boilerplate (navigation chrome, cookie banners, license footers) and
    * is removed from every document; surviving lines are re-joined in
    * their original order.
    *
    * Scale shape: one `posexplode` (narrow), a distinct+count aggregate on
    * `(line, doc)` — map-side partials shrink each split to its distinct
    * lines before the shuffle — and one left join of the exploded corpus
    * against the frequent-line set. That set is OUTPUT-bounded (only lines
    * repeated across documents — in practice the boilerplate vocabulary,
    * metadata-sized), so AQE turns the join into a broadcast at runtime;
    * the pessimistic plan is one hash-partitioned shuffle on the line
    * text. Reassembly is the usual order-preserving fold:
    * `array_sort(collect_list(struct(pos, line)))` per document — state
    * bounded by a single document's line count, never the corpus's. A
    * document whose every line is boilerplate survives as an empty string
    * (dropping rows would silently change corpus membership).
    *
    * The reference has no corpus-level text hygiene at all (its documents
    * are opaque Mongo payloads, `No_Sql.py:316-377` compiles filters
    * only); this is pipeline surface the reference cannot express. */
  def lineDedup(df: DataFrame, idCol: String, textCol: String,
                minDocs: Int = 2): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2 (got $minDocs): " +
      "a 1-threshold would drop every line of every document")
    val lines = df.select(col(idCol).as("doc_id"),
      posexplode(split(col(textCol), "\n")).as(Seq("pos", "line")))
    val freq = lines.select(col("line"), col("doc_id")).distinct()
      .groupBy(col("line")).agg(count(lit(1)).as("__docs"))
      .filter(col("__docs") >= minDocs)
      .select(col("line"), lit(true).as("__boiler"))
    val keep = col("__boiler").isNull
    lines.join(freq, Seq("line"), "left")
      .groupBy(col("doc_id"))
      .agg(
        array_join(transform(
          array_sort(collect_list(when(keep,
            struct(col("pos"), col("line"))))),
          x => x.getField("line")), "\n").as("clean_text"),
        count(when(keep, lit(1))).as("n_kept"),
        count(when(!keep, lit(1))).as("n_dropped"))
  }

  /** Token-rarity quality score — the CCNet/KenLM language-model filter
    * reduced to its portable core: a document full of common tokens scores
    * high (fluent boilerplate-adjacent text), one full of rare tokens
    * scores low (OCR noise, code, gibberish) — mean unigram commonness is
    * a monotone proxy for mean unigram log-likelihood, computed here in
    * EXACT integer arithmetic (parts-per-million by integer division)
    * instead of floating-point logs so any engine reproduces it
    * bit-for-bit.
    *
    * Plan: one explode → (doc, term) tf aggregate (map-side partials),
    * corpus term counts aggregated FROM that tf table (vocabulary-sized,
    * never re-scans the corpus), the 1-row token total broadcast, and the
    * ppm lookup joined back — Zipf keeps the vocabulary side small enough
    * that AQE broadcasts it; nothing in the plan is corpus-global except
    * the tf aggregate itself. Output per document: `n_tokens`, `avg_ppm`
    * (tf-weighted mean token commonness, floor), `min_ppm` (the rarest
    * token — a 0 means a hapax in a corpus of ≥1M tokens). */
  def rarityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = TrackedCache.persistTracked(
      df.select(col(idCol).as("doc_id"),
          col(textCol).as("__t"))
        .select(col("doc_id"), explode(toks(col("__t"))).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf")))
    val cnts = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val total = cnts.agg(sum(col("cnt")).as("__n_toks"))
    tf.join(cnts, "term")
      .crossJoin(broadcast(total))
      .withColumn("ppm", expr("(cnt * 1000000) div __n_toks"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        expr("sum(tf * ppm) div sum(tf)").as("avg_ppm"),
        min(col("ppm")).as("min_ppm"))
  }

  /** Character-trigram language-model scoring — the CCNet/Wikipedia-LM
    * perplexity-filter stage in a deterministic, engine-exact form: the
    * LM is trained on the corpus ITSELF (two count aggregations), and a
    * document's score is the add-one-smoothed aggregate inverse
    * conditional probability of its trigrams,
    *
    *   score = 1000 · (Σᵢ C₂(prefixᵢ) + n·V)  div  (Σᵢ C₃(triᵢ) + n)
    *
    * (C₃ = corpus trigram count, C₂ = its 2-char-prefix count, V =
    * distinct continuation characters, n = the doc's trigram count) —
    * high for documents built from rare-in-corpus character sequences
    * (boilerplate, encoding garbage, wrong-language text), low for
    * fluent ones: the same ranking perplexity filtering uses, but as a
    * RATIO OF INTEGER SUMS in fixed-point (×1000, the [[rarityScore]]
    * `div` discipline), so it is bit-identical on any engine — a
    * geometric-mean perplexity would need per-row transcendentals whose
    * last ulp differs across libm implementations.
    *
    * Scale shape: trigram explosion is one codegen'd pass
    * (`sequence`/`transform`/`substr` builtins, no UDF); both count
    * tables aggregate with map-side combine; one final per-doc
    * aggregation. Documents shorter than 3 characters emit nothing.
    *
    * PLAN ROUTING (the `asofJoinAuto`/`coActivityEdgesAuto` discipline):
    * one bounded fetch of the trigram counts is both the guard and the
    * broadcast side. Under `maxVocab` (character-trigram vocabulary is
    * bounded — ~1M entries at any corpus size) the fetched rows and the
    * bigram counts broadcast back; above it the count tables stay
    * distributed and the lookups become plain shuffle joins, so at 100×
    * the corpus the query switches plans instead of dying. The two arms
    * are BIT-IDENTICAL: the score is a ratio of integer sums, and a
    * join's physical strategy cannot change which rows meet — both
    * answer the same oracle (the forced over-cap arm is
    * differential-certified in TextStatsSpec and oracle-certified as
    * `text_lmscore_big`). Cost of the shuffle arm: the trigram table
    * shuffles on `tri` and on `bi` instead of streaming past two
    * broadcasts — the standard large-build-side trade, with AQE free to
    * pick better at runtime. */
  def lmScore(df: DataFrame, idCol: String, textCol: String,
              maxVocab: Long = 2000000L): DataFrame = {
    val tris = lmTrigrams(df, idCol, textCol)
    val c3 = tris.groupBy(col("tri")).agg(count(lit(1)).as("c3"))
    // ONE collect serves both the vocabulary guard and the broadcast:
    // a broadcast join collects its build side to the driver anyway, so
    // a separate count() job would run the (cached) trigram aggregation
    // twice for nothing. The fetch is bounded BEFORE materializing —
    // limit (maxVocab + 1) keeps an over-cap vocabulary from OOMing the
    // driver; the fetched rows are complete (and reusable as the
    // broadcast side) exactly when they fit the cap.
    val c3Rows = c3.limit(vocabFetchCap(maxVocab)).collect()
    if (c3Rows.length <= maxVocab) {
      val c3Local = df.sparkSession.createDataFrame(
        java.util.Arrays.asList(c3Rows: _*), c3.schema)
      lmFinish(tris, broadcast(c3Local), broadcastC2 = true)
    } else
      // the vocabulary outgrew the broadcast budget: keep every count
      // table distributed (c2's bigram vocabulary is bounded by c3's,
      // but over the cap neither side is trustworthy driver-sized)
      lmFinish(tris, c3, broadcastC2 = false)
  }

  /** How many vocabulary rows the guard fetch pulls: cap + 1 (one extra
    * row is exactly the over-cap proof), CLAMPED into `limit`'s Int
    * domain BEFORE the +1 — `maxVocab = Long.MaxValue` must mean "no
    * practical cap", not overflow to `limit(0)` and silently broadcast
    * an empty count table (every trigram would inner-join to nothing
    * and the score column would come back empty instead of routing). */
  private def vocabFetchCap(maxVocab: Long): Int = {
    require(maxVocab >= 0, s"maxVocab must be >= 0, got $maxVocab")
    (math.min(maxVocab, Int.MaxValue.toLong - 1) + 1).toInt
  }

  /** The shared trigram explosion — one codegen'd pass, cached because
    * both count aggregations and the final join re-read it. */
  private def lmTrigrams(df: DataFrame, idCol: String,
                         textCol: String): DataFrame =
    TrackedCache.persistTracked(
      // fanOut BEFORE the explosion: the trigram kernel is the expensive
      // per-row work, and a single-file scan would otherwise run it on
      // one task (measured 2.6 s single-task map stage in text_lmscore)
      Par.fanOut(df.select(col(idCol).as("doc_id"), col(textCol).as("__s"))
          .where(length(col("__s")) >= 3))
        .selectExpr("doc_id",
          "explode(transform(sequence(1, char_length(__s) - 2), " +
            "i -> substr(__s, i, 3))) AS tri")
        .withColumn("bi", expr("substr(tri, 1, 2)")))

  /** The smoothing arithmetic shared by both arms: identical integer
    * expressions, only the count tables' join strategy differs. */
  private def lmFinish(tris: DataFrame, c3Side: DataFrame,
                       broadcastC2: Boolean): DataFrame = {
    val c2 = tris.groupBy(col("bi")).agg(count(lit(1)).as("c2"))
    val v = tris.agg(
      countDistinct(expr("substr(tri, 3, 1)")).as("__v"))
    tris
      .join(c3Side, "tri")
      .join(if (broadcastC2) broadcast(c2) else c2, "bi")
      .crossJoin(broadcast(v)) // always 1 row
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("tri_n"),
        expr("((sum(c2) + count(1) * first(__v)) * 1000) div " +
          "(sum(c3) + count(1))").as("score_milli"))
  }

  /** Winnowing fingerprints (Schleimer, Wilkerson, Aiken 2003 — the MOSS
    * algorithm): slide a window of `w` consecutive k-gram hashes over the
    * document and keep each window's MINIMUM; the resulting set is the
    * document's fingerprint with the classic guarantee that any match of
    * at least w + k - 1 consecutive tokens between two documents shares at
    * least one selected hash — robust partial-overlap detection where
    * whole-document fingerprints ([[rollingFingerprint]]) see nothing.
    * Selection here is value-distinct (no positional tie rule): with
    * 62-bit hashes, equal values in a window mean equal grams, which
    * classical winnowing also collapses in the fingerprint SET.
    *
    * Scale shape: the gram hash stream is one codegen'd pass
    * ([[graft.functions.GramPolyOps]] — sequential, SQL-replayable), the
    * sliding minimum is a row-local higher-order transform over that
    * bounded array (interpreted, but per-row and allocation-light), and
    * nothing shuffles until the caller aggregates fingerprints — the
    * output is (doc, fp) rows ready for the same groupBy/anti-join
    * machinery the dedup family uses. Documents shorter than one window
    * emit their single best hash; empty documents emit nothing. */
  def winnowFingerprints(df: DataFrame, idCol: String, textCol: String,
                         k: Int = 4, w: Int = 5): DataFrame = {
    require(k >= 1, s"gram size k must be >= 1, got $k")
    require(w >= 1, s"window w must be >= 1, got $w")
    val g = graft.functions.ShingleFunctions.gram_poly_hashes(col(textCol), k)
    df.select(col(idCol).as("doc_id"), g.as("__g"))
      .where(size(col("__g")) > 0)
      .select(col("doc_id"), explode(array_distinct(
        transform(
          sequence(lit(0), greatest(size(col("__g")) - w, lit(0))),
          i => array_min(slice(col("__g"), i + 1, lit(w)))))).as("fp"))
  }
}
