package graft.ext

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A PERSISTED IVF (inverted-file) index for embedding search — the
  * build-once/query-many dual of [[Similarity.ivfTopK]], which recomputes
  * centroids on every call (fine as a query shape, wasteful as an index).
  *
  * Layout on disk ("the index"):
  *   `<path>/centroids/` — one row per cell: (cell, centroid array<double>);
  *                         nlist rows, metadata-sized at any data scale.
  *   `<path>/data/cell=<v>/` — the vectors, PARTITIONED BY CELL: a probe
  *                         reads only the probed cells' directories
  *                         (Catalyst partition pruning — `PartitionFilters`
  *                         on the scan), so query cost is nprobe/nlist of
  *                         the data regardless of table size.
  *
  * The coarse quantizer is LEARNED: [[buildKMeans]]/[[buildPqKMeans]]
  * train nlist cells with distributed Lloyd iterations ([[KMeans]]) and
  * assign every vector to its nearest learned centroid — no pre-existing
  * partition column required, which is the real-corpus contract (FAISS
  * trains its IVF quantizer the same way). [[build]]/[[buildPq]] remain
  * for corpora that already carry a meaningful cell column.
  *
  * Centroid arithmetic matches [[Similarity.centroids]] exactly (the
  * portable floor(x·1e10 + 0.5) long-quantized accumulation —
  * order-independent integer sums) so an external engine can reproduce the
  * probe selection bit-for-bit.
  */
object IvfIndex {

  /** Build the index: write vectors partitioned by cell plus the per-cell
    * centroid table. One pass over the data + one centroid aggregation —
    * both fully distributed. (Persisting the assigned frame across the
    * two passes measured SLOWER at bench scale — columnar array caching
    * costs more than re-running the argmin assignment — and at corpus
    * scale a corpus-sized cache just spills the same bytes to disk that
    * a re-scan would read; so each pass recomputes from the source.) */
  def build(df: DataFrame, idCol: String, vecCol: String, cellCol: String,
            path: String): Unit = {
    df.select(col(idCol), col(vecCol), col(cellCol).as("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/data")
    Similarity.centroids(df, vecCol, cellCol)
      .withColumnRenamed("grp", "cell")
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** [[build]] with a LEARNED coarse quantizer: k-means the vectors into
    * `nlist` cells ([[KMeans]] has the portable-arithmetic contract),
    * assign by nearest trained centroid, and lay the index out exactly
    * like [[build]]. The extra cost over [[build]] is `iters` training
    * scans (production fits on a sample — [[KMeans]] class doc). */
  def buildKMeans(df: DataFrame, idCol: String, vecCol: String,
                  path: String, nlist: Int, iters: Int = 3): Unit =
    build(KMeans.assigned(df, idCol, vecCol, nlist, iters),
      idCol, vecCol, "cell", path)

  /** [[buildPq]] with the [[buildKMeans]] learned coarse quantizer. */
  def buildPqKMeans(df: DataFrame, idCol: String, vecCol: String,
                    path: String, nlist: Int, numSub: Int,
                    iters: Int = 3): Unit =
    buildPq(KMeans.assigned(df, idCol, vecCol, nlist, iters),
      idCol, vecCol, "cell", path, numSub)

  /** Incremental index maintenance — the FAISS `add` contract: assign
    * NEW vectors to the FROZEN coarse quantizer (the centroid table the
    * build wrote) and append them to their cell partitions. No
    * retraining, no rewrite of existing partitions, no full-corpus
    * pass — at 100 TB an index rebuild for a 0.1% ingest batch is the
    * difference between minutes and a day. The quantizer staying frozen
    * is what makes the result EXACT: existing assignments cannot shift,
    * so the post-append index is identical to one built from scratch
    * with these centroids (drifted corpora retrain via a rebuild, the
    * same policy FAISS documents). Assignment is the codegen'd
    * [[KMeans.assignCell]] argmin over the broadcast centroid matrix —
    * row-local, one pass over ONLY the new vectors. */
  def append(df: DataFrame, idCol: String, vecCol: String,
             path: String): Unit =
    assignFrozen(df, idCol, vecCol, path)
      .write.partitionBy("cell").mode("append").parquet(s"$path/data")

  /** [[append]] for an IVF-PQ index: the raw-vector append plus the
    * codes — new vectors PQ-encoded against the FROZEN persisted
    * codebook (one broadcast-join pass over only the new rows,
    * `Similarity.pqEncodeKeepCell`'s exact arithmetic) and appended to
    * their cell's code partition. Frozen quantizer + frozen codebook ⇒
    * the post-append index equals a from-scratch [[buildPq]] with
    * these tables, so ADC serving needs no rebuild to see the ingest. */
  def appendPq(df: DataFrame, idCol: String, vecCol: String,
               path: String): Unit = {
    val spark = df.sparkSession
    val meta = new String(Files.readAllBytes(Paths.get(path, "meta.json")))
    val numSub =
      "\"numSub\":(\\d+)".r.findFirstMatchIn(meta).get.group(1).toInt
    val assigned = assignFrozen(df, idCol, vecCol, path)
    assigned.write.partitionBy("cell").mode("append")
      .parquet(s"$path/data")
    Similarity.pqEncodeKeepCell(assigned, idCol, vecCol, "cell", numSub,
        Some(spark.read.parquet(s"$path/codebook")))
      .write.partitionBy("cell").mode("append").parquet(s"$path/codes")
  }

  /** The frozen-quantizer assignment both append shapes share: (id,
    * vec, cell) with cell from the WRITTEN centroid table — never
    * retrained. */
  private def assignFrozen(df: DataFrame, idCol: String, vecCol: String,
                           path: String): DataFrame = {
    val spark = df.sparkSession
    val rows = spark.read.parquet(s"$path/centroids")
      .select(col("cell").cast("int"), col("centroid"))
      .orderBy("cell").collect()
    val cells = rows.map(_.getInt(0)).toSeq
    require(cells == cells.indices,
      s"$path/centroids cells must be contiguous 0..${cells.size - 1} " +
        s"(assignCell indexes the matrix by cell), got $cells")
    val cents: IndexedSeq[Seq[Double]] =
      rows.map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
    df.select(col(idCol), col(vecCol),
      KMeans.assignCell(col(vecCol), cents).as("cell"))
  }

  /** Top-k cosine search against a built index: rank the nlist centroids
    * (tiny — collected to the driver like any metadata), then scan ONLY the
    * `nprobe` probed cell partitions. No centroid recomputation, no
    * full-table scan. */
  def topK(spark: SparkSession, path: String, idCol: String, vecCol: String,
           query: Seq[Double], k: Int, nprobe: Int): DataFrame =
    topKCells(spark, path, idCol, vecCol, query, k,
      probe(spark, path, query, nprobe))

  /** [[topK]] with the probed cells PRECOMPUTED (a prefix of
    * [[rankCellsMany]]'s ranked list) — the batch/sweep entry point that
    * skips the per-call probe job. */
  private[graft] def topKCells(spark: SparkSession, path: String,
                               idCol: String, vecCol: String,
                               query: Seq[Double], k: Int,
                               cells: Seq[Any]): DataFrame = {
    val data = spark.read.parquet(s"$path/data")
      .filter(col("cell").isin(cells: _*))
    Similarity.topK(data, idCol, vecCol, query, k)
  }

  /** Rank the coarse centroids against the query and pick the `nprobe`
    * nearest cells — nlist rows collected to the driver, the metadata hop
    * every IVF variant shares. */
  private def probe(spark: SparkSession, path: String, query: Seq[Double],
                    nprobe: Int): IndexedSeq[Any] =
    spark.read.parquet(s"$path/centroids")
      .select(col("cell"),
        round(Similarity.cosine(col("centroid"), typedLit(query)), 4)
          .as("csim"))
      .orderBy(col("csim").desc, col("cell"))
      .limit(nprobe)
      .collect().map(_.get(0)).toIndexedSeq

  /** Batch form of [[probe]]: the FULL ranked cell list for every query
    * vector, from ONE job over the centroid table — a probe at any
    * nprobe is a PREFIX of its query's ranked list (same csim-desc,
    * cell-asc comparator), so a batch of Q queries (or one query swept
    * across nprobe settings) pays one centroid-scan job instead of one
    * per probe. Same expressions as [[probe]] (q4-rounded cosine, cell
    * tiebreak), so the selected cells are identical. `maxRank` bounds
    * the per-query list collected to the driver — a batch caller that
    * only ever takes the first nprobe cells passes nprobe instead of
    * shipping nlist rows per query. */
  private[graft] def rankCellsMany(spark: SparkSession, path: String,
                                   vecs: Seq[Seq[Double]],
                                   maxRank: Int = Int.MaxValue)
      : Seq[IndexedSeq[Any]] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val qdf = broadcast(vecs.zipWithIndex
      .map { case (v, i) => (i, v) }.toDF("__qi", "__qv"))
    val rows = spark.read.parquet(s"$path/centroids")
      .crossJoin(qdf)
      .select(col("__qi"), col("cell"),
        round(Similarity.cosine(col("centroid"), col("__qv")), 4)
          .as("csim"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("__qi"))
          .orderBy(col("csim").desc, col("cell"))))
      .filter(col("__rn") <= maxRank)
      .select(col("__qi"), col("cell"), col("__rn"))
      .collect()
    val by = rows.groupBy(_.getInt(0))
    vecs.indices.map(i =>
      by.getOrElse(i, Array.empty[org.apache.spark.sql.Row])
        .sortBy(_.getInt(2)).map(_.get(1)).toIndexedSeq)
  }

  /** Build the COMPOSED IVF-PQ index — the 100 TB ANN serving layout
    * (FAISS's IVFADC is the public model: coarse quantizer prunes, product
    * codes score). On top of [[build]]'s layout it adds:
    *
    *   `<path>/codebook/`       — (sub, lbl, cent): the per-subspace PQ
    *                              codebook, numSub·|labels| rows,
    *                              broadcast-sized at any scale.
    *   `<path>/codes/cell=<v>/` — (id, sub, code, d2) PQ codes,
    *                              PARTITIONED BY THE ROW'S COARSE CELL, so
    *                              the ADC scan prunes exactly like the
    *                              raw-vector scan — but reads ~numSub longs
    *                              per vector instead of d floats.
    *
    * Raw vectors are still written (`data/`) for the optional exact
    * rescore of the final k; a pure-ADC deployment can drop them.
    * Build cost: the [[build]] passes plus one broadcast-join encode pass
    * — all distributed, nothing corpus-sized through the driver. */
  def buildPq(df: DataFrame, idCol: String, vecCol: String, cellCol: String,
              path: String, numSub: Int): Unit = {
    val spark = df.sparkSession
    build(df, idCol, vecCol, cellCol, path)
    // The PQ codebook is a RESHAPE of the coarse centroids just written:
    // the per-(sub, lbl, pos) quantized mean equals the per-(lbl,
    // sub·width+pos) component of [[Similarity.centroids]] — identical
    // floor(x·1e10+0.5) long-sum arithmetic over identical row sets — so
    // slicing the persisted centroid table replaces a second full
    // aggregation pass over the exploded corpus.
    val cents = spark.read.parquet(s"$path/centroids")
    val dims = cents.select(size(col("centroid"))).head().getInt(0)
    require(numSub > 0 && dims % numSub == 0,
      s"numSub=$numSub must divide the dimension $dims")
    val width = dims / numSub
    cents.select(col("cell").as("lbl"),
        posexplode(transform(sequence(lit(0), lit(numSub - 1)),
          i => slice(col("centroid"), i * width + 1, lit(width))))
          .as(Seq("sub", "cent")))
      .select(col("sub"), col("lbl"), col("cent"))
      .write.mode("overwrite").parquet(s"$path/codebook")
    Similarity.pqEncodeKeepCell(df, idCol, vecCol, cellCol, numSub,
        Some(spark.read.parquet(s"$path/codebook")))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$path/codes")
    // geometry as driver-side metadata: query time should spend its jobs
    // on data, not on probing numSub/width out of the codebook
    Files.write(Paths.get(path, "meta.json"),
      s"""{"numSub":$numSub,"width":$width}""".getBytes): Unit
  }

  /** IVF-PQ top-k: the coarse quantizer prunes the scan to `nprobe` cell
    * partitions, asymmetric distance scores the PQ CODES inside those
    * cells (the embeddings are never read), and — with `rescore` — the
    * final k ADC winners are re-scored exactly against the raw vectors of
    * the probed cells only, fixing ADC's quantization-induced rank noise
    * at the cost of k full-precision dots.
    *
    * Query cost shape at 100 TB: one nlist-row centroid rank (driver
    * metadata), a partition-pruned scan of nprobe/nlist of the CODE table
    * (~numSub longs per vector), one broadcast LUT join + per-id fold,
    * one TakeOrderedAndProject; rescore adds a broadcast semi-join of k
    * ids against the pruned raw-vector partitions. No raw vector ever
    * shuffles — plan-asserted in `IvfIndexSpec`.
    *
    * Output: (id, sim_pq) — or with rescore (id, sim_pq, sim), reordered
    * by the exact score. */
  /** `candidates` (the FAISS refine/rescore pattern): with rescore on,
    * the ADC pass selects `max(candidates, k)` ids and the exact
    * rescore keeps the top `k` of THEM — a wider candidate pool buys
    * back the recall a coarse PQ codebook's ranking loses, at the cost
    * of `candidates` exact distance computations instead of `k` (still
    * ∝ candidates, never ∝ corpus). 0 (default) means candidates = k,
    * the original behavior. */
  def topKPq(spark: SparkSession, path: String, idCol: String,
             query: Seq[Double], k: Int, nprobe: Int,
             rescore: Boolean = false,
             vecCol: String = "embedding",
             candidates: Int = 0): DataFrame = {
    // argument checks BEFORE the probe: invalid arguments must not pay
    // (or launch) the centroid job
    requireCandidates(candidates, rescore)
    topKPqCells(spark, path, idCol, query, k,
      probe(spark, path, query, nprobe), rescore, vecCol, candidates)
  }

  private def requireCandidates(candidates: Int, rescore: Boolean): Unit =
    require(candidates == 0 || rescore,
      "a candidate pool wider than k only means anything with " +
        "rescore = true — without the exact rescore there is no " +
        "second ranking to cut it back to k")

  /** [[topKPq]] with the probed cells PRECOMPUTED (a prefix of
    * [[rankCellsMany]]'s ranked list) — the batch/sweep entry point that
    * skips the per-call probe job. */
  private[graft] def topKPqCells(spark: SparkSession, path: String,
                                 idCol: String, query: Seq[Double],
                                 k: Int, probes: Seq[Any],
                                 rescore: Boolean = false,
                                 vecCol: String = "embedding",
                                 candidates: Int = 0): DataFrame = {
    requireCandidates(candidates, rescore)
    val codebook = spark.read.parquet(s"$path/codebook")
    val meta = new String(Files.readAllBytes(Paths.get(path, "meta.json")))
    val numSub = "\"numSub\":(\\d+)".r.findFirstMatchIn(meta).get.group(1).toInt
    val width = "\"width\":(\\d+)".r.findFirstMatchIn(meta).get.group(1).toInt
    require(query.size == numSub * width,
      s"query dim ${query.size} != numSub $numSub x width $width")
    val codes = spark.read.parquet(s"$path/codes")
      .filter(col("cell").isin(probes: _*))
    val adc = Similarity.adcTopK(codes,
      Similarity.pqQueryLut(codebook, query, width), idCol, query,
      math.max(candidates, k))
    if (!rescore) adc
    else {
      val data = spark.read.parquet(s"$path/data")
        .filter(col("cell").isin(probes: _*))
      data.join(broadcast(adc), Seq(idCol))
        .select(col(idCol), col("sim_pq"),
          round(Similarity.cosine(col(vecCol), typedLit(query)), 4)
            .as("sim"))
        .orderBy(col("sim").desc, col(idCol))
        .limit(k)
    }
  }
}
