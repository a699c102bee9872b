package graft

import graft.ext.TextStats
import org.apache.spark.sql.functions._

/** SURVEY.md §2.10 text analysis on hand-checkable strings. */
class TextStatsSpec extends SparkSpec {

  private lazy val docs = {
    import spark.implicits._
    Seq(
      (1L, "the cat sat on the mat!", "en"),
      (2L, "el gato y la casa de los", "es"),
      (3L, "zzz qqq", "und")
    ).toDF("doc_id", "text", "lang")
  }

  test("tokenStats: whitespace, distinct, BPE-ish counts") {
    val r = TextStats.tokenStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // doc1: 6 tokens, 5 distinct ("the" twice); bpe: 6 letter runs + "!"
    assert(r(0) == (6L, 5L, 7L))
    assert(r(1) == (7L, 7L, 7L))
    assert(r(2) == (2L, 2L, 2L))
  }

  test("quality: char len, avg token len, stopword and punct ratios") {
    val r = TextStats.quality(docs, "doc_id", "text").orderBy("doc_id").head()
    assert(r.getLong(1) == 23L)                    // "the cat sat on the mat!"
    assert(r.getDouble(2) == 3.0)                  // 18 letters+!, 6 tokens
    assert(r.getDouble(3) == math.rint(2.0 / 6 * 10000) / 10000) // 2x "the"
    assert(r.getDouble(4) == math.rint(1.0 / 23 * 10000) / 10000) // one "!"
  }

  test("langId: argmax of stopword hits; zero hits -> und") {
    val r = TextStats.langId(docs, "doc_id", "text").orderBy("doc_id")
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    // doc1: "the" x2; doc2: el,y,la,de,los = 5 hits; doc3: nothing
    assert(r == Seq(("en", 2L), ("es", 5L), ("und", 0L)))
  }

  test("langStats: per-lang docs and token totals") {
    val d = docs.withColumn("n_chars", length(col("text")).cast("long"))
    val r = TextStats.langStats(d, "lang", "text", "n_chars")
      .orderBy("lang").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSeq
    assert(r == Seq(("en", 1L, 6L), ("es", 1L, 7L), ("und", 1L, 2L)))
  }

  test("rollingFingerprint: hand-computed Rabin-Karp value") {
    import spark.implicits._
    val one = Seq((1L, "ab")).toDF("doc_id", "text")
    val fp = TextStats.fingerprints(one, "doc_id", "text").head().getLong(1)
    // ((0*31 + 97) * 31 + 98) mod 1e9+7 = 3105
    assert(fp == 3105L)
  }

  test("fingerprints: identical text same fp, different text different fp") {
    import spark.implicits._
    val df = Seq((1L, "same text"), (2L, "same text"), (3L, "other")).toDF("doc_id", "text")
    val fps = TextStats.fingerprints(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L) && fps(1L) != fps(3L))
  }

  test("cleanPass: each threshold drops its own violator") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat sat of the mat and it was a good mat to sit"), // keeps
      (2L, "no stopwords here just content words only banana"), // ratio 0
      (3L, "aa bb"), // too short
      (4L, "the extraordinarily sesquipedalian circumlocutions of the magniloquent")) // long tokens
      .toDF("doc_id", "text")
    val kept = TextStats.cleanPass(d, "doc_id", "text",
        minChars = 10L, minStopwordRatio = 0.02, maxAvgTokenLen = 6.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L))
  }

  test("groupMedian: odd and even group sizes, exact middle values") {
    import spark.implicits._
    val d = Seq(("a", 1L), ("a", 9L), ("a", 5L), // odd: median 5
      ("b", 2L), ("b", 4L), ("b", 10L), ("b", 100L)) // even: (4+10)/2 = 7
      .toDF("grp", "v")
    val out = TextStats.groupMedian(d, "grp", "v")
      .orderBy("grp").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(out == Seq(("a", 3L, 5.0), ("b", 4L, 7.0)))
  }

  test("groupQuantiles: type-1 rank arithmetic on known groups") {
    import spark.implicits._
    val d = Seq(("a", 1L), ("a", 2L), ("a", 3L), ("a", 4L), // n=4
      ("b", 10L))                                            // n=1
      .toDF("grp", "v")
    val out = TextStats.groupQuantiles(d, "grp", "v", Seq(25, 50, 75, 90))
      .orderBy("grp", "pct").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // n=4: ranks ceil(1)=1, ceil(2)=2, ceil(3)=3, ceil(3.6)=4
    assert(out == Seq(("a", 25L, 1L), ("a", 50L, 2L), ("a", 75L, 3L),
      ("a", 90L, 4L),
      ("b", 25L, 10L), ("b", 50L, 10L), ("b", 75L, 10L), ("b", 90L, 10L)))
  }

  test("tfidfTopTerms: rare terms outrank common ones; ties break on term") {
    import spark.implicits._
    // "common" in all 3 docs (idf_q = 1e6), "rare" only in doc 1 (idf_q = 3e6)
    val d = Seq((1L, "common rare"), (2L, "common"), (3L, "common"))
      .toDF("doc_id", "text")
    val out = TextStats.tfidfTopTerms(d, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(out == Seq(
      (1L, 1L, "rare", 3000000L), (1L, 2L, "common", 1000000L),
      (2L, 1L, "common", 1000000L), (3L, 1L, "common", 1000000L)))
  }

  test("vocabEncode: deterministic ids, unknowns are -1, positions align") {
    import spark.implicits._
    val d = Seq((1L, "b a b"), (2L, "a b z")).toDF("doc_id", "text")
    // freqs: b=3, a=2, z=1; vocabSize=2 -> b=1, a=2, z=unknown
    val out = TextStats.vocabEncode(d, "doc_id", "text", 2)
      .orderBy("doc_id", "pos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((1L, 0L, 1L), (1L, 1L, 2L), (1L, 2L, 1L),
      (2L, 0L, 2L), (2L, 1L, 1L), (2L, 2L, -1L)))
  }

  test("vocabEncode: frequency ties rank by term, ids stay in [1, k]") {
    import spark.implicits._
    val d = Seq((1L, "x y x y")).toDF("doc_id", "text")
    val out = TextStats.vocabEncode(d, "doc_id", "text", 10)
      .orderBy("doc_id", "pos").collect().map(_.getLong(2)).toSeq
    // x and y both freq 2: x ranks first lexicographically
    assert(out == Seq(1L, 2L, 1L, 2L))
  }

  test("tokenChunks: null text emits no rows (no garbage lengths)") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val d = spark.createDataFrame(
      java.util.Arrays.asList(org.apache.spark.sql.Row(1L, null),
        org.apache.spark.sql.Row(2L, "a b")), schema)
    val out = TextStats.tokenChunks(d, "doc_id", "text", 64, 48)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    assert(out == Seq((2L, 2L)))
  }

  test("tokenChunks: stride grid, truncated tail, boundary terms") {
    import spark.implicits._
    // 7 tokens, chunk=3, stride=2 -> starts 0,2,4,6; lens 3,3,3,1
    val d = Seq((1L, "a b c d e f g")).toDF("doc_id", "text")
    val out = TextStats.tokenChunks(d, "doc_id", "text", chunk = 3, stride = 2)
      .orderBy("chunk_idx").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))
      .toSeq
    assert(out == Seq((0L, 3L, "a", "c"), (1L, 3L, "c", "e"),
      (2L, 3L, "e", "g"), (3L, 1L, "g", "g")))
  }

  test("tokenChunks: single chunk covers a short doc; bad strides rejected") {
    import spark.implicits._
    val d = Seq((1L, "x y")).toDF("doc_id", "text")
    val out = TextStats.tokenChunks(d, "doc_id", "text", chunk = 64, stride = 48)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(out == Seq((0L, 2L)))
    intercept[IllegalArgumentException] {
      TextStats.tokenChunks(d, "doc_id", "text", chunk = 3, stride = 4)
    }
  }

  test("bigramTopTerms: per-doc distinct bigrams, single-token fallback") {
    import spark.implicits._
    val d = Seq((1L, "a b a b"), // distinct bigrams: "a b", "b a"
      (2L, "a b"), (3L, "solo")).toDF("doc_id", "text")
    val out = TextStats.bigramTopTerms(d, "text", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("a b", 2L), ("b a", 1L)))
  }

  test("topTerms: document frequency (not occurrences), term tie-break") {
    import spark.implicits._
    val df = Seq(
      (1L, "x x x y"), // x appears 3 times but counts ONCE for this doc
      (2L, "x z"),
      (3L, "z y")).toDF("doc_id", "text")
    val top = TextStats.topTerms(df, "text", k = 2).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    // x:2 docs, y:2, z:2 — all tied; term order decides, k cuts at 2
    assert(top == Seq(("x", 2L), ("y", 2L)))
  }

  test("postings: df band applied before materialization, cap, slot order") {
    import spark.implicits._
    val d = Seq(
      (10L, "a b c"),  // a in 3 docs, b in 2, c/d hapax
      (20L, "a b"),
      (30L, "a d")).toDF("doc_id", "text")
    // band [2,2]: only b survives (a's df=3 > maxDf, c/d df=1 < minDf)
    val out = TextStats.postings(d, "doc_id", "text",
        minDf = 2L, maxDf = 2L, cap = 10)
      .orderBy("term", "slot").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(out == Seq(("b", 2L, 1L, 10L), ("b", 2L, 2L, 20L)))
    // cap=1 prunes each list to its doc_id-ordered head
    val capped = TextStats.postings(d, "doc_id", "text",
        minDf = 2L, maxDf = 3L, cap = 1)
      .orderBy("term").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq
    assert(capped == Seq(("a", 3L, 1L, 10L), ("b", 2L, 1L, 10L)))
  }

  test("bm25TopTerms matches a from-scratch Scala replay of the rational") {
    import spark.implicits._
    val d = Seq((1L, "the cat sat on the mat"),
      (2L, "el gato y la casa de los"),
      (3L, "zzz qqq")).toDF("doc_id", "text")
    // local reference: same integer rational, same single double division
    val toks = Map(1L -> "the cat sat on the mat",
      2L -> "el gato y la casa de los", 3L -> "zzz qqq")
      .view.mapValues(_.split(" ").toSeq).toMap
    val tf = toks.toSeq.flatMap { case (id, ts) =>
      ts.groupBy(identity).map { case (t, o) => (id, t, o.size.toLong) } }
    val dl = toks.view.mapValues(_.size.toLong).toMap
    val dfreq = tf.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val n = toks.size.toLong
    val s = dl.values.sum
    val expected = tf.map { case (id, t, f) =>
      val num = 22L * s * f
      val den = 10L * s * f + 3L * s + 9L * dl(id) * n
      val idf = (n * 1000000L) / dfreq(t)
      (id, t,
        math.floor(num.toDouble / den.toDouble * idf.toDouble + 0.5).toLong)
    }.groupBy(_._1).flatMap { case (id, rows) =>
      rows.sortBy { case (_, t, sc) => (-sc, t) }.take(3).zipWithIndex
        .map { case ((_, t, sc), i) => (id, i + 1L, t, sc) }
    }.toSeq.sortBy(r => (r._1, r._2))
    val out = TextStats.bm25TopTerms(d, "doc_id", "text", k = 3)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .toSeq
    assert(out == expected)
    // sanity: a doc's repeated term ("the", tf=2) outranks its tf=1 terms
    assert(out.head == ((1L, 1L, "the", out.head._4)))
  }

  test("repetitionStats: dup-bigram and top-token fractions, hand-computed") {
    import spark.implicits._
    val d = Seq(
      (1L, "a b a b c"), // bigrams: ab,ba,ab,bc -> 4 occ, 3 distinct
      (2L, "x y z"),     // all bigrams distinct
      (3L, "w")          // sub-2-token doc: defined as 0.0
    ).toDF("doc_id", "text")
    val out = TextStats.repetitionStats(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3))).toSeq
    assert(out == Seq(
      (5L, 0.25, 0.4),      // 1/4 dup bigram; "a" (or "b") 2/5
      (3L, 0.0, 0.3333),    // round(1/3, 4)
      (1L, 0.0, 1.0)))
  }

  test("pmiTopBigrams: integer-rational score and deterministic tie-break") {
    import spark.implicits._
    // tokens: a=3 b=2 c=1; nu=6, nb=3; (a,b)=2, (a,c)=1
    // score(a,b) = 2*36/(3*3*2) = 4.0; score(a,c) = 1*36/(3*3*1) = 4.0
    // equal scores -> (x, y) ascending decides
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val out = TextStats.pmiTopBigrams(d, "text", minCount = 1L, k = 10)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5))).toSeq
    assert(out == Seq(
      ("a", "b", 2L, 3L, 2L, 4.0),
      ("a", "c", 1L, 3L, 1L, 4.0)))
  }

  test("pmiTopBigrams: minCount prunes, k caps") {
    import spark.implicits._
    val d = Seq((1L, "a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val pruned = TextStats.pmiTopBigrams(d, "text", minCount = 2L, k = 10)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(pruned == Seq(("a", "b")))
    assert(TextStats.pmiTopBigrams(d, "text", 1L, 1).count() == 1L)
  }

  test("bm25TopTerms: rank is dense per doc, k bounds, score tie-break") {
    import spark.implicits._
    // all-distinct tokens → every (doc, term) has tf=1; within a doc,
    // equal dl and tf mean equal score for equal df — term asc decides
    val d = Seq((1L, "b a c"), (2L, "d e f")).toDF("doc_id", "text")
    val out = TextStats.bm25TopTerms(d, "doc_id", "text", k = 2)
      .orderBy("doc_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(out == Seq((1L, 1L, "a"), (1L, 2L, "b"),
      (2L, 1L, "d"), (2L, 2L, "e")))
  }

  test("hashVectorize: occurrences counted per bucket, same token same " +
      "bucket, bucket counts sum to token count") {
    import spark.implicits._
    val d = Seq((1L, "a b a a c"), (2L, "a")).toDF("doc_id", "text")
    val rows = TextStats.hashVectorize(d, "doc_id", "text", buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val doc1 = rows.filter(_._1 == 1L)
    assert(doc1.map(_._3).sum == 5L)         // 5 token occurrences
    assert(doc1.count(_._3 == 3L) == 1)      // "a" x3 in one bucket
    // "a" lands in the same bucket in both docs
    val aBucket1 = doc1.find(_._3 == 3L).get._2
    assert(rows.filter(_._1 == 2L).toSeq == Seq((2L, aBucket1, 1L)))
    assert(rows.forall(r => r._2 >= 0 && r._2 < 64))
  }

  test("modelScore = dot product of weights with hashVectorize counts") {
    import spark.implicits._
    val d = Seq((1L, "a b a a c"), (2L, "a"), (3L, "x y z z"),
      (4L, "")).toDF("doc_id", "text")
    val rnd = new scala.util.Random(5L)
    val w = Seq.fill(64)(rnd.nextInt(21).toLong - 10L)
    val got = TextStats.modelScore(d, "doc_id", "text", w, threshold = 0L)
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getBoolean(2))))
      .toMap
    // the explicit feature-vector formulation must agree exactly
    val counts = TextStats.hashVectorize(d, "doc_id", "text", buckets = 64)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val want = counts.groupBy(_._1).view.mapValues(rs =>
      rs.map(r => w(r._2.toInt) * r._3).sum).toMap
    assert(got.keySet == want.keySet)
    want.foreach { case (id, logit) =>
      assert(got(id) == ((logit, logit >= 0L)), s"doc $id")
    }
    // empty docs carry no feature mass and emit no row
    assert(!got.contains(4L))
    // the plan is scan + aggregate: no join, no vector materialization
    val plan = TextStats.modelScore(d, "doc_id", "text", w, 0L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), plan.take(600))
    // loud refusal past the plan-literal cap
    val e = intercept[IllegalArgumentException] {
      TextStats.modelScore(d, "doc_id", "text",
        Seq.fill((1 << 20) + 1)(0L), 0L)
    }
    assert(e.getMessage.contains("broadcast"))
  }

  test("normalize: case, control chars, and space runs collapse; trim ends") {
    import spark.implicits._
    val d = Seq((1L, "  Hello\tWORLD   again "), (2L, "clean text"))
      .toDF("doc_id", "text")
    val r = TextStats.normalize(d, "doc_id", "text").orderBy("doc_id")
      .collect().map(x => (x.getLong(1), x.getString(2), x.getLong(3)))
    assert(r(0) == ((22L, "hello world again", 17L)))
    assert(r(1) == ((10L, "clean text", 10L)))
  }

  test("qualityCrosstab: per-lang kept/dropped counts at the gate") {
    import spark.implicits._
    val d = Seq(
      (1L, "the cat sat on the mat over the hill and far away", "en"),
      (2L, "zz", "en"),                      // too short -> dropped
      (3L, "el gato y la casa de los", "es") // no en-stopwords -> dropped
    ).toDF("doc_id", "text", "lang")
    val r = TextStats.qualityCrosstab(d, "doc_id", "text", "lang",
        minChars = 10L, minStopwordRatio = 0.1, maxAvgTokenLen = 5.0)
      .orderBy("lang", "kept").collect()
      .map(x => (x.getString(0), x.getBoolean(1), x.getLong(2)))
    assert(r.toSeq == Seq(("en", false, 1L), ("en", true, 1L),
      ("es", false, 1L)))
  }

  test("lenDeciles: equal lengths share a bucket, counts partition evenly") {
    import spark.implicits._
    // 6 docs, 2 buckets: lengths 1,1,2 | 3,4,5 -> cut at cum 3
    val d = Seq((1L, 1L), (2L, 1L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L))
      .toDF("doc_id", "n_chars")
    val out = TextStats.lenDeciles(d, "n_chars", buckets = 2)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((0L, 3L, 1L, 2L), (1L, 3L, 3L, 5L)))
  }

  test("lenDeciles: a dominant length value never splits across buckets") {
    import spark.implicits._
    val d = ((1 to 8).map(i => (i.toLong, 7L)) ++ Seq((9L, 9L), (10L, 1L)))
      .toDF("doc_id", "n_chars")
    val out = TextStats.lenDeciles(d, "n_chars", buckets = 4)
      .orderBy("bucket").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // len 1 (cum0=0) -> b0; the 8-doc run of len 7 (cum0=1) -> b0 too;
    // len 9 (cum0=9) -> b3. No bucket contains part of the len-7 run.
    assert(out.toSeq == Seq((0L, 9L, 1L, 7L), (3L, 1L, 9L, 9L)))
  }

  test("subwordEncode: greedy longest-prefix with character fallback") {
    import spark.implicits._
    // 'the' dominates (3 occurrences) so topK=1 puts only 'the' in the
    // multi-char vocab; every other piece is a character
    val d = Seq("the the the cat", "thecatx the").toDF("text")
    val out = TextStats.subwordEncode(d, "text", topK = 1)
      .orderBy("word", "piece_pos").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq(
      ("cat", 1L, "c"), ("cat", 2L, "a"), ("cat", 3L, "t"),
      ("the", 1L, "the"),
      // greedy takes the LONGEST prefix 'the', never 't'+'h'+'e'
      ("thecatx", 1L, "the"), ("thecatx", 2L, "c"), ("thecatx", 3L, "a"),
      ("thecatx", 4L, "t"), ("thecatx", 5L, "x")))
  }

  test("subwordEncode: every piece round-trips — concat(pieces) = word") {
    import spark.implicits._
    val d = Seq("alpha beta alphabeta betaalpha gamma77").toDF("text")
    val enc = TextStats.subwordEncode(d, "text", topK = 2)
    val rebuilt = enc.groupBy("word")
      .agg(concat_ws("", transform(
        array_sort(collect_list(struct(col("piece_pos"), col("piece")))),
        s => s.getField("piece"))).as("re"))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(rebuilt.forall { case (w, re) => w == re })
  }

  test("lineDedup: corpus-repeated lines drop, order survives, empty stays") {
    import spark.implicits._
    val d = Seq(
      (1L, "unique body one\nshared footer\nanother unique"),
      (2L, "unique body two\nshared footer"),
      (3L, "shared footer"), // all boilerplate -> empty doc, row kept
      (4L, "solo doc with no boilerplate")
    ).toDF("doc_id", "text")
    val out = TextStats.lineDedup(d, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, "unique body one\nanother unique", 2L, 1L),
      (2L, "unique body two", 1L, 1L),
      (3L, "", 0L, 1L),
      (4L, "solo doc with no boilerplate", 1L, 0L)))
  }

  test("lineDedup: threshold counts DISTINCT docs, not occurrences") {
    import spark.implicits._
    // 'twice here' appears twice but inside ONE doc -> never boilerplate
    val d = Seq(
      (1L, "twice here\nmiddle\ntwice here"),
      (2L, "other")
    ).toDF("doc_id", "text")
    val out = TextStats.lineDedup(d, "doc_id", "text", minDocs = 2)
      .orderBy("doc_id").head()
    assert(out.getString(1) == "twice here\nmiddle\ntwice here")
    assert(out.getLong(3) == 0L)
  }

  test("winnowFingerprints: short doc = 1 fp, empty doc = none, " +
    "long shared run ⇒ shared fp") {
    import spark.implicits._
    val noise1 = "aa bb cc dd ee ff gg hh"
    val noise2 = "pp qq rr ss tt uu vv ww"
    val run = "one two three four five six seven eight" // 8 >= w+k-1
    val d = Seq(
      (1L, s"$noise1 $run"),
      (2L, s"$run $noise2"),
      (3L, "tiny doc"), // 2 tokens < k -> one whole-text gram -> one fp
      (4L, "")
    ).toDF("doc_id", "text")
    val fps = TextStats.winnowFingerprints(d, "doc_id", "text", k = 4, w = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).map { case (id, xs) => (id, xs.map(_._2).toSet) }
    // the MOSS guarantee: >= w+k-1 shared consecutive tokens -> shared fp
    assert((fps(1L) & fps(2L)).nonEmpty)
    assert(fps(3L).size == 1)
    assert(!fps.contains(4L))
  }

  test("rarityScore: integer ppm commonness, tf-weighted mean, rarest min") {
    import spark.implicits._
    // corpus: the x3, cat x2, rare x1 -> N=6 tokens
    // ppm: the=500000, cat=333333, rare=166666
    val d = Seq(
      (1L, "the cat the"),   // (2*500000+333333) div 3 = 444444
      (2L, "cat rare the")   // (333333+166666+500000) div 3 = 333333
    ).toDF("doc_id", "text")
    val out = TextStats.rarityScore(d, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 3L, 444444L, 333333L),
      (2L, 3L, 333333L, 166666L)))
  }

  test("lmScore: hand-computed trigram LM ratios; short docs emit nothing") {
    import spark.implicits._
    // corpus: "abcd" → trigrams abc, bcd; "aaaa" → aaa, aaa.
    // C3: abc=1, bcd=1, aaa=2. C2 (trigram prefixes): ab=1, bc=1, aa=2.
    // V (distinct third chars): {c, d, a} = 3.
    //   doc 1: n=2, Σc3=2, Σc2=2 → (2+2·3)·1000 div (2+2) = 2000
    //   doc 2: n=2, Σc3=4, Σc2=4 → (4+2·3)·1000 div (4+2) = 1666
    // the repetitive (in-distribution) doc scores LOWER — the filter's
    // ranking direction
    val docs = Seq((1L, "abcd"), (2L, "aaaa"), (3L, "xy"))
      .toDF("doc_id", "text")
    val out = graft.ext.TextStats.lmScore(docs, "doc_id", "text")
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L, 2000L), (2L, 2L, 1666L)))
    // over the cap it switches to shuffle joins and answers
    // bit-identically (the differential the router's correctness rests
    // on: join strategy cannot change the sums)
    val routed = graft.ext.TextStats
      .lmScore(docs, "doc_id", "text", maxVocab = 1L)
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(routed.toSeq == out.toSeq)
  }
}
