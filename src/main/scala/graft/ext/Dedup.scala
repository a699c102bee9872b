package graft.ext

import graft.functions.ShingleFunctions.{shingle_hashes, token_poly_hashes}
import graft.functions.SketchFunctions.{minhash_signature, simhash_signature}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Document deduplication — exact, fingerprint, n-gram-Jaccard, MinHash+LSH
  * and SimHash — the LLM-training-pipeline extension layer mandated by
  * BASELINE.json (the reference itself, /root/reference/No_Sql.py, has no
  * dedup; these are designed Spark-first for 100 TB scale).
  *
  * Scale design notes (SURVEY.md §7.4.7):
  *  - Exact / fingerprint dedup is one hash-partitioned `groupBy` — the
  *    minimum possible shuffle, AQE-coalesced.
  *  - `jaccardPairs` blocks candidate pairs on SHARED SHINGLES, never
  *    all-pairs: any pair with Jaccard > 0 shares ≥1 shingle, so blocking is
  *    lossless; hot-shingle skew is the known risk, mitigated upstream by a
  *    document-frequency cut (see `maxShingleDf`) — the standard trick at
  *    web scale where stop-shingles would otherwise quadratically blow up.
  *  - `minhashLshPairs` is the true 100 TB path: O(n·bands) band keys, an
  *    equi-join per bucket, exact verification only on candidates. Raise
  *    `rowsPerBand` as n grows to keep the random-collision candidate count
  *    ~linear (P[band collision] ≈ s^r for Jaccard s).
  *
  * Cache lifecycle: the pair operators persist their self-join inputs
  * (MEMORY_AND_DISK) so shingle/signature work runs once per row, not once
  * per join side. Every persist is tracked; callers MUST invoke
  * [[Dedup.unpersistAll]] once the returned frame has been fully consumed
  * (counted / collected / written) — without it each call leaks cache
  * blocks into the LRU and a long benchmark run ends up evicting and
  * recomputing hot data (observed as a 4x slowdown of late queries in
  * BENCH_r03 plus "Asked to cache already cached data" warnings).
  */
object Dedup {

  private def persistTracked(df: DataFrame): DataFrame =
    TrackedCache.persistTracked(df)

  /** Release every cache block and local checkpoint the multi-read and
    * iterative operators (here, [[TextStats]], [[Components]],
    * [[Triangles]]) have created since the last call — delegates to the
    * shared [[TrackedCache]]. A persisted frame read afterwards just
    * recomputes; a checkpointed result (connectedComponents, kCore) has
    * no lineage left, so call this once such results are consumed. */
  def unpersistAll(blocking: Boolean = false): Unit =
    TrackedCache.unpersistAll(blocking)

  /** Whitespace tokenization (documents.text is space-separated). */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct word n-gram shingles as STRINGS — the readable reference
    * formulation (kept for tests and for oracles that need the literal
    * shingles). The hot paths use [[graft.functions.ShingleHashes]] via
    * [[shingle_hashes]] instead: same set semantics, one codegen'd pass,
    * 8-byte elements. */
  def shingles(text: Column, n: Int): Column = {
    val toks = tokens(text)
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(array_distinct(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n))))))
  }

  /** Exact dedup: canonical representative = min(id) per key group.
    * One shuffle on the key; map-side partial aggregation applies. */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(col): _*)
      .agg(min(col(idCol)).as(idCol))
      .select(col(idCol) +: keyCols.map(col): _*)

  /** Fingerprint dedup: md5 of the normalized text. Hashing first keeps the
    * shuffle rows narrow (32-byte key instead of the full document) — at
    * 100 TB the difference is the whole job. */
  def fingerprint(text: Column): Column = md5(lower(text))

  def byFingerprint(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp")).agg(min(col(idCol)).as(idCol))
      .select(col(idCol), col("fp"))

  /** Persisted fingerprint index — the incremental-ingest dedup pattern:
    * a production corpus deduplicates each NEW batch against everything
    * already accepted without rescanning the corpus. The index is just
    * the distinct md5 fingerprints as parquet (32 bytes/doc — a 100 TB
    * corpus indexes into ~tens of GB), appendable batch over batch. */
  def buildFingerprintIndex(df: DataFrame, textCol: String,
                            path: String): Unit =
    df.select(fingerprint(col(textCol)).as("fp")).distinct()
      .write.mode("overwrite").parquet(path)

  /** Append a new batch's fingerprints to an existing index. Parquet
    * append is file-level atomic per task; duplicate fps across appends
    * are harmless (the probe is an anti-join — membership, not counts). */
  def appendToFingerprintIndex(df: DataFrame, textCol: String,
                               path: String): Unit =
    df.select(fingerprint(col(textCol)).as("fp")).distinct()
      .write.mode("append").parquet(path)

  /** Keep only batch rows whose content is NOT in the index — the same
    * anti-join-on-fingerprints shape as [[decontaminate]], with the index
    * side streamed from its parquet (never the corpus text). AQE picks
    * broadcast vs shuffled-hash from the index's actual size. */
  def incremental(batch: DataFrame, textCol: String,
                  indexPath: String): DataFrame =
    batch.join(
      batch.sparkSession.read.parquet(indexPath)
        .select(col("fp").as("__ixfp")).distinct(),
      fingerprint(batch(textCol)) === col("__ixfp"), "left_anti")

  /** Decontamination: drop training rows whose exact (case-normalized)
    * content appears in an evaluation set — the train/test-overlap scrub
    * every benchmark-clean corpus needs.
    *
    * Shape: left_anti join on the md5 fingerprint, never the text — both
    * sides shuffle (or broadcast) 32-byte keys, not documents. Eval sets
    * are benchmarks, i.e. tiny next to a 100 TB corpus: Spark broadcasts
    * the hashed eval side and the training scan filters in place with no
    * shuffle at all. No forced broadcast hint — AQE decides from the
    * hashed side's actual size, so an eval set past the broadcast
    * threshold degrades gracefully to a shuffled anti-join on the
    * fingerprints instead of OOMing the driver. */
  def decontaminate(train: DataFrame, eval: DataFrame,
                    textCol: String): DataFrame =
    train.join(
      eval.select(fingerprint(col(textCol)).as("__evfp")).distinct(),
      fingerprint(train(textCol)) === col("__evfp"), "left_anti")

  /** Cross-source duplication matrix: for every source pair, how many
    * distinct content fingerprints they share — "who copies from whom"
    * across crawls/feeds, the provenance audit behind source weighting.
    * Distinct (source, fp) pairs first (map-side combine collapses
    * per-source repeats), then one fp equi-join; `src_a < src_b` keeps
    * each unordered pair once and kills the self-match diagonal. The
    * joined rows are (32-byte fp, source) — the documents themselves
    * never reach the join. */
  def crossSourceDupes(df: DataFrame, textCol: String,
                       srcCol: String): DataFrame = {
    val fp = df.select(col(srcCol).as("src"),
      fingerprint(col(textCol)).as("fp")).distinct()
    fp.as("a").join(fp.as("b"),
        col("a.fp") === col("b.fp") && col("a.src") < col("b.src"))
      .groupBy(col("a.src").as("src_a"), col("b.src").as("src_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Graded decontamination: for each EVAL doc, the fraction of its
    * distinct n-gram shingles that appear anywhere in the TRAIN corpus —
    * the standard contamination score ("this benchmark item is 83% covered
    * by training text") where [[decontaminate]]'s whole-document
    * fingerprint match is the binary cut.
    *
    * Shape at 100 TB: both sides explode to distinct shingles, the train
    * side is deduped (map-side combine collapses repeats before the
    * exchange), and the probe is one hash equi-join on the shingle — the
    * small eval side is broadcast by AQE, so the train shingles stream
    * through without a join shuffle. Shingles join as STRINGS because the
    * score is certified against a SQL oracle; an uncertified production
    * variant could join on xxhash64(gram) to carry 8 bytes per shingle
    * instead of the text, trading a ~2⁻⁶⁴ overcount for wire width. */
  def overlapRate(train: DataFrame, eval: DataFrame, idCol: String,
                  textCol: String, n: Int = 3): DataFrame = {
    val evalG = eval.select(col(idCol),
      explode(shingles(col(textCol), n)).as("gram"))
    val trainG = train.select(explode(shingles(col(textCol), n)).as("gram"))
      .distinct().withColumn("__hit", lit(1L))
    evalG.join(trainG, Seq("gram"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("__hit"), lit(0L))).as("n_hits"))
      .select(col(idCol), col("n_grams"), col("n_hits"),
        round(col("n_hits").cast("double") / col("n_grams"), 4).as("overlap"))
  }

  /** Partial-overlap near-duplicate pairs from winnowing fingerprints
    * ([[TextStats.winnowFingerprints]]): two documents pair when they
    * share at least `minShared` selected hashes. Unlike whole-set Jaccard
    * (document-GLOBAL similarity, diluted to nothing by surrounding
    * fresh text), winnowing pairs fire on one LOCALIZED shared run of
    * ≥ w + k - 1 tokens — the quoted-block / contaminated-paragraph /
    * template-reuse case, which is exactly what MOSS uses it for.
    *
    * Scale shape: the blocking join is a hash equi-join on the 8-byte
    * fingerprint, bounded by a df-cut with the same trade as the shingle
    * df-cut in [[jaccardPairs]]: a fingerprint in a single document can
    * never pair (dropped for free), and one in more than `maxFpDf`
    * documents is corpus boilerplate whose blocking group grows the join
    * quadratically while carrying no discriminative signal — pruned
    * BEFORE the self-join, so the worst group replicates ≤ maxFpDf².
    * `shared` counts DISTINCT shared fingerprints (the per-doc stream is
    * value-distinct by construction). */
  def winnowPairs(df: DataFrame, idCol: String, textCol: String,
                  k: Int = 4, w: Int = 5, minShared: Long = 2L,
                  maxFpDf: Long = 100L): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxFpDf >= 2, s"maxFpDf must be >= 2 (2 is the smallest df " +
      s"that can form a pair), got $maxFpDf")
    // No fan-out before the fingerprint kernel: it is light relative to
    // the banding self-join's shuffle, and the added exchange measured
    // slower (r21 driver bench, retry-confirmed).
    val fps = persistTracked(
      TextStats.winnowFingerprints(df, idCol, textCol, k, w))
    val band = fps.groupBy(col("fp")).agg(count(lit(1)).as("__df"))
      .filter(col("__df") >= 2 && col("__df") <= maxFpDf)
      .select(col("fp"))
    val pruned = fps.join(band, Seq("fp"))
    pruned.as("a").join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** Exact n-gram Jaccard near-duplicate pairs, blocked on shared shingles.
    *
    * Both sides of the threshold comparison use `round(j, 4)` so the engine
    * and any re-implementation (the DuckDB oracle) agree at the boundary.
    *
    * @param maxShingleDf drop shingles appearing in more than this many docs
    *                     BEFORE sizes are computed (df-cut; 0 = keep all).
    *                     With the cut enabled the metric is exact Jaccard
    *                     over the RETAINED shingle sets — set sizes are
    *                     recomputed post-prune so numerator and denominator
    *                     agree (pruning shingles from only the numerator
    *                     would systematically underestimate similarity).
    * @param maxCandidatePairs skew guard for the UNcut exact operator: when
    *                     > 0, the implied candidate-pair count
    *                     Σ_gram df·(df−1)/2 is measured (one map-side-combined
    *                     aggregation over the already-persisted exploded
    *                     frame) BEFORE the quadratic join is launched, and a
    *                     loud IllegalStateException names the hottest
    *                     shingle's document frequency if the budget is
    *                     blown. Fail-fast beats a job that quietly melts a
    *                     cluster: exact Jaccard with no df-cut is quadratic
    *                     in the hottest shingle's frequency, which on a
    *                     stop-phrase-heavy corpus at 100 TB is the whole
    *                     table.
    */
  def jaccardPairs(df: DataFrame, idCol: String, textCol: String,
                   n: Int = 3, threshold: Double = 0.5,
                   maxShingleDf: Long = 0L,
                   maxCandidatePairs: Long = 0L): DataFrame = {
    // Shingles ride as 64-bit hashes end to end (codegen'd single-pass
    // kernel): the self-join shuffles each exploded row twice, and 8-byte
    // longs vs ~20-byte strings is the difference in shuffle bytes; a
    // cross-doc hash collision overcounts one shared shingle w.p.
    // ~distinct²/2^65 — immaterial. Persisted: both join sides read it.
    // No fan-out before the shingle kernel: the downstream self-join
    // shuffle dominates it, and the extra exchange measured slower
    // (r21 driver bench, retry-confirmed).
    val grams = df.select(col(idCol).cast("long").as("id"),
        col(textCol).as("__txt"))
      .select(col("id"), shingle_hashes(col("__txt"), n).as("grams"))
      .withColumn("sz", size(col("grams")).cast("long"))
    val exploded = persistTracked(grams.select(col("id"), col("sz"),
      explode(col("grams")).as("gram")))
    if (maxShingleDf <= 0 && maxCandidatePairs > 0) {
      // decimal BEFORE the multiply: c*(c-1) in long arithmetic silently
      // wraps past df ≈ 3e9 (non-ANSI) — exactly the extreme-skew regime
      // this guard exists to catch
      val bound = exploded.groupBy("gram")
        .agg(count(lit(1)).as("c"))
        .agg(sum(col("c").cast("decimal(38,0)") * (col("c") - 1) / 2)
          .as("pairs"),
          max(col("c")).as("hottest"))
        .head()
      val pairs = Option(bound.getDecimal(0)).map(BigDecimal(_))
        .getOrElse(BigDecimal(0))
      if (pairs > maxCandidatePairs)
        throw new IllegalStateException(
          s"jaccardPairs candidate-pair budget blown: shared-shingle " +
            s"blocking implies $pairs candidate pairs (> $maxCandidatePairs); " +
            s"hottest shingle appears in ${bound.getLong(1)} documents. " +
            "Set maxShingleDf to prune hot shingles (df-cut) or use " +
            "minhashLshPairs, the scale path.")
    }
    val pruned =
      if (maxShingleDf <= 0) exploded
      else {
        val hot = exploded.groupBy("gram")
          .agg(count(lit(1)).as("df_cnt"))
          .filter(col("df_cnt") > maxShingleDf)
          .select("gram")
        // prune-then-size: recompute per-doc set sizes over the retained
        // shingles so Jaccard is consistent (docs left with zero retained
        // shingles drop out entirely — they can no longer pair anyway)
        exploded.join(broadcast(hot), Seq("gram"), "left_anti")
          .withColumn("sz",
            count(lit(1)).over(
              org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
      }
    val a = pruned.alias("a")
    val b = pruned.alias("b")
    val shared = a.join(b,
        col("a.gram") === col("b.gram") && col("a.id") < col("b.id"))
      .groupBy(
        col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sz").as("sz_a"), col("b.sz").as("sz_b"))
      .agg(count(lit(1)).as("shared"))
    val j = round(
      col("shared") / (col("sz_a") + col("sz_b") - col("shared")), 4)
    shared.select(col("id_a"), col("id_b"), j.as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  // -----------------------------------------------------------------------
  // MinHash + banded LSH
  // -----------------------------------------------------------------------

  /** Deterministic per-hash coefficients (splitmix64 of the index) —
    * reproducible across runs and executors, no RNG state shipped. */
  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Deterministic (a_i, b_i) coefficient schedule for `numHashes`
    * permutations: 31-bit odd multipliers and offsets from splitmix64 of
    * the index — every intermediate of (a*h+b) mod 2^31-1 fits a long. */
  private[graft] def minhashCoeffs(numHashes: Int): Array[Long] = {
    val out = new Array[Long](2 * numHashes)
    var i = 0
    while (i < numHashes) {
      out(2 * i) = (splitmix64(2L * i) >>> 33) | 1L // 31-bit odd multiplier
      out(2 * i + 1) = splitmix64(2L * i + 1) >>> 33 // 31-bit offset
      i += 1
    }
    out
  }

  /** Banded-LSH near-dup pairs with exact Jaccard verification.
    *
    * numHashes = bands × rowsPerBand. Candidate pairs come from an equi-join
    * on (band index, band signature hash) — NEVER an all-pairs product.
    * Candidates are then verified with exact shingle-set Jaccard, so false
    * positives cost time, never correctness; false negatives are bounded by
    * (1 - s^r)^b, maximal AT the threshold (≈1e-8 for s=0.5, r=2, b=64) and
    * decreasing in s — every pair the threshold admits is found w.p.
    * ≥ 1 - 1e-8.
    */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3, bands: Int = 64, rowsPerBand: Int = 2,
                      threshold: Double = 0.5): DataFrame = {
    val numHashes = bands * rowsPerBand
    // gram sets are read three times (signatures + both verify sides) —
    // persist so the shingle kernel runs once per row, not three times
    val grams = persistTracked(
      df.select(col(idCol).cast("long").as("id"),
          col(textCol).as("__txt"))
        .select(col("id"), shingle_hashes(col("__txt"), n).as("grams")))
    // row-local sketch (no shuffle), then one band-key row per band
    val sigs = grams.select(col("id"),
      minhash_signature(col("grams"), minhashCoeffs(numHashes)).as("sig"))
    val bandKeys = sigs.select(col("id"),
      posexplode(array((0 until bands).map { bIdx =>
        xxhash64((lit(bIdx) +: (0 until rowsPerBand).map(r =>
          element_at(col("sig"), bIdx * rowsPerBand + r + 1))): _*)
      }: _*)).as(Seq("band", "key")))
    val l = bandKeys.alias("l")
    val r = bandKeys.alias("r")
    val candidates = l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"))
      .distinct()
    val ga = grams.select(col("id").as("id_a"), col("grams").as("grams_a"))
    val gb = grams.select(col("id").as("id_b"), col("grams").as("grams_b"))
    // Size-ratio prune before the exact intersect: J = |∩|/|∪| can never
    // exceed min(|A|,|B|)/max(|A|,|B|), so candidates whose set sizes are
    // too lopsided are discarded without touching the arrays' contents.
    // The 5e-5 slack keeps the prune lossless under the round(·, 4)
    // threshold comparison (round(j,4) ≥ t admits true j ≥ t − 5e-5).
    val verified = candidates.join(ga, "id_a").join(gb, "id_b")
      .withColumn("sz_a", size(col("grams_a")).cast("long"))
      .withColumn("sz_b", size(col("grams_b")).cast("long"))
      .filter(least(col("sz_a"), col("sz_b")) >=
        lit(threshold - 0.00005) * greatest(col("sz_a"), col("sz_b")))
      .withColumn("shared",
        size(array_intersect(col("grams_a"), col("grams_b"))).cast("long"))
      .withColumn("jaccard", round(
        col("shared") / (col("sz_a") + col("sz_b") - col("shared")), 4))
    verified.filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  // -----------------------------------------------------------------------
  // SimHash
  // -----------------------------------------------------------------------

  /** 64-bit SimHash per document, computed entirely row-locally: the
    * codegen'd [[graft.functions.SimHashSignature]] kernel takes the
    * document's distinct-token poly hashes (`token_poly_hashes`, also
    * row-local) and folds per-bit majority votes into the sign-bit
    * signature in one pass — no explode, no groupBy, zero shuffles.
    *
    * Sign rule: bit j set iff 2 * |{hashes with bit j}| >= n_tokens —
    * majority with ties set, exactly the convention the DuckDB oracle
    * reproduces. Because the kernel holds the 64 counters in a local
    * int array there is no lane-packing overflow bound: any token count
    * that fits an Int is exact.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    // Token hash = portable 62-bit poly hash (graft.functions.TokenPolyOps),
    // NOT xxhash64: the exact same value is computable in DuckDB SQL, so the
    // whole SimHash pipeline gets a hash-matching external oracle. Bits
    // 62/63 of every hash are zero — those signature bits land constant 0
    // on all documents and never affect Hamming distances.
    //
    // The signature is ONE row-local codegen'd pass
    // ([[graft.functions.SimHashSignature]], majority rule 2*ones >= n) —
    // no explode, no shuffle; the r2 shape (explode + 64 sum-aggregates,
    // later 16 lane-packed aggregates) shuffled 260k rows at sf0.1 to
    // compute a value each row can compute alone.
    df.select(col(idCol).cast("long").as("id"),
      simhash_signature(token_poly_hashes(col(textCol))).as("simhash"))

  /** SimHash near-dup pairs: block on `maxHamming + 1` bands over the 62
    * meaningful signature bits (pigeonhole: a pair within Hamming
    * `maxHamming` differs in at most `maxHamming` bands, so ≥1 band matches
    * exactly — recall is 100%, not probabilistic), verify with
    * bit_count(xor) ≤ maxHamming.
    *
    * Band geometry matters at scale: the r2 shape used 8 fixed 8-bit bands
    * over all 64 bits, but bits 62/63 are constant and per-bit majorities
    * are biased on real corpora, so the top band had ~6 low-entropy bits —
    * one bucket held 4.4k of 5k docs at sf0.1 and the candidate join
    * exploded to 27.9M pairs (108x the true pair count). The minimal band
    * count with the widest bands (62/(k+1) bits each) maximizes per-bucket
    * entropy while keeping exact recall. */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 15,
      "banding supports Hamming radius 0..15 (wider radii need more bands " +
        "than the 62 signature bits can usefully feed)")
    val bands = maxHamming + 1
    val base = 62 / bands
    val extra = 62 % bands // first `extra` bands get one more bit
    val starts = (0 until bands).scanLeft(0)((s, i) =>
      s + base + (if (i < extra) 1 else 0))
    // No fan-out before the signature kernel: the banding join's shuffle
    // dominates it, and the extra exchange measured slower (r21 driver
    // bench, retry-confirmed).
    val sigs = simhash(df, idCol, textCol)
    // persisted: both self-join sides read it (without this the whole
    // signature computation runs twice)
    val banded = persistTracked(sigs.select(col("id"), col("simhash"),
      posexplode(array((0 until bands).map { bIdx =>
        val width = base + (if (bIdx < extra) 1 else 0)
        shiftrightunsigned(col("simhash"), starts(bIdx))
          .bitwiseAND(lit((1L << width) - 1L))
      }: _*)).as(Seq("band", "key"))))
    val l = banded.alias("l")
    val r = banded.alias("r")
    // hamming filter BEFORE distinct: bit_count(xor) is a codegen'd two
    // instructions, so evaluating it per joined row and discarding misses
    // early shrinks the distinct's shuffle input by ~100x vs deduping all
    // band-collision candidates first
    l.join(r,
        col("l.band") === col("r.band") && col("l.key") === col("r.key") &&
          col("l.id") < col("r.id"))
      .select(col("l.id").as("id_a"), col("r.id").as("id_b"),
        expr("bit_count(l.simhash ^ r.simhash)").cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** SUBSTRING-level exact dedup: the maximal token spans duplicated
    * ACROSS documents — the third leg of training-data dedup after
    * whole-document ([[exact]]) and line-level (`Layout.lineDedup`):
    * Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
    * Better") remove repeated spans with a suffix array; the bounded
    * distributed shape here is the k-gram-anchor approximation — every
    * duplicated run of ≥ k tokens is, by construction, a chain of
    * duplicated k-grams, so finding cross-document k-grams and merging
    * their overlapping/adjacent coverage per document yields exactly the
    * maximal duplicated spans at k-token resolution. (Intra-document
    * repetition is a different gate — `text_repetition`.)
    *
    * Pipeline, all declarative: one codegen'd sequential gram-hash pass
    * ([[graft.functions.GramPolyOps]] — 62-bit, SQL-replayable), a
    * (hash → distinct-doc-count ≥ 2) aggregate, an equi-join of gram
    * occurrences against the duplicated set, then per-doc gaps-and-
    * islands (lag + running sum over a doc-partitioned window) to merge
    * window coverage [pos, pos+k-1] into maximal spans. Shuffles: one on
    * the gram hash (8-byte keys, map-side-combined), one on doc_id for
    * the window — both key-partitioned and skew-benign (a gram's
    * occurrence list is corpus-bounded, never squared). Documents with
    * fewer than k tokens hash as ONE whole-text gram (GramPolyOps
    * contract), so short exact-dup docs surface as whole-doc spans.
    *
    * Output: (doc_id, start, len, span_text) — 0-based token offset,
    * token count, and the duplicated run itself, one row per maximal
    * span. */
  def substringSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5): DataFrame = {
    require(k >= 1, s"gram size k must be >= 1, got $k")
    import org.apache.spark.sql.expressions.Window
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    val grams = graft.functions.ShingleFunctions
      .gram_poly_hashes(col(textCol), k)
    // (doc, token-width of one gram window, gram positions+hashes);
    // persisted: both the dup aggregate and the hit join read it
    val pos = persistTracked(df
      .select(col(idCol).as("doc_id"),
        least(lit(k), size(toks)).as("width"), grams.as("__g"))
      .where(size(col("__g")) > 0)
      .select(col("doc_id"), col("width"),
        posexplode(col("__g")).as(Seq("pos", "h"))))
    val dup = pos.groupBy(col("h"))
      .agg(count_distinct(col("doc_id")).as("ndocs"))
      .filter(col("ndocs") >= 2).select(col("h"))
    val hits = pos.join(dup, Seq("h"))
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    // coverage of two k-windows is contiguous iff the later start is
    // within width of the earlier — strictly beyond opens a new island
    val spans = hits
      .withColumn("brk",
        when(col("pos") > lag(col("pos"), 1).over(byDoc) + col("width"), 1)
          .otherwise(0))
      .withColumn("grp", sum(col("brk")).over(byDoc))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("pos")).as("start"),
        (max(col("pos")) + first(col("width")) - 1).as("end"))
    spans.join(df.select(col(idCol).as("doc_id"), toks.as("__ws")), "doc_id")
      .select(col("doc_id"), col("start").cast("long").as("start"),
        (col("end") - col("start") + 1).cast("long").as("len"),
        concat_ws(" ", slice(col("__ws"), col("start") + 1,
          col("end") - col("start") + 1)).as("span_text"))
  }

  /** Excise every [[substringSpans]] span from its document: tokens whose
    * 0-based index falls inside any span are dropped, the rest re-join
    * with single spaces. Row-local after a per-doc span collect (spans
    * are few by construction — they cover only duplicated text). Output:
    * (doc_id, clean_text, n_removed). */
  def removeDupSpans(df: DataFrame, idCol: String, textCol: String,
                     k: Int = 5): DataFrame = {
    val spans = substringSpans(df, idCol, textCol, k)
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("start"), col("len"))).as("__sp"))
    val toks = filter(split(col(textCol), " "), t => t =!= "")
    df.select(col(idCol).as("doc_id"), toks.as("__ws"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"),
        concat_ws(" ", filter(col("__ws"), (t, i) =>
          coalesce(!exists(col("__sp"), s =>
            i >= s.getField("start") &&
              i < s.getField("start") + s.getField("len")),
            lit(true)))).as("clean_text"),
        coalesce(aggregate(col("__sp"), lit(0L),
          (acc, s) => acc + s.getField("len")), lit(0L)).as("n_removed"))
  }
}
