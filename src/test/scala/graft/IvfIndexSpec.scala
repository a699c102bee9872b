package graft

import graft.ext.{IvfIndex, Similarity}

/** Persisted IVF index: build-once layout, probe-time partition pruning,
  * and result parity with the rebuild-per-query ivfTopK. */
class IvfIndexSpec extends SparkSpec {

  private lazy val vecs = {
    import spark.implicits._
    Seq(
      (0L, Seq(1.0f, 0.0f, 0.0f), 0),
      (1L, Seq(0.9f, 0.1f, 0.0f), 0),
      (2L, Seq(0.0f, 1.0f, 0.0f), 1),
      (3L, Seq(0.1f, 0.9f, 0.0f), 1),
      (4L, Seq(0.0f, 0.0f, 1.0f), 2),
      (5L, Seq(0.0f, 0.1f, 0.9f), 2)
    ).toDF("vec_id", "embedding", "label")
  }

  test("indexed topK matches the rebuild-per-query ivfTopK") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-test").toString
    IvfIndex.build(vecs, "vec_id", "embedding", "label", dir)
    val q = Seq(1.0, 0.05, 0.0)
    val indexed = IvfIndex.topK(spark, dir, "vec_id", "embedding", q,
        k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val rebuilt = Similarity.ivfTopK(vecs, "vec_id", "embedding", "label", q,
        k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(indexed == rebuilt)
    assert(indexed.map(_._1) == Seq(0L, 1L, 3L)) // cells 0+1 probed, not 2
  }

  test("probe scan reads ONLY the probed cell partitions") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-prune").toString
    IvfIndex.build(vecs, "vec_id", "embedding", "label", dir)
    val out = IvfIndex.topK(spark, dir, "vec_id", "embedding",
      Seq(1.0, 0.05, 0.0), k = 3, nprobe = 2)
    out.collect()
    // partition pruning: the probe filter lands in PartitionFilters with
    // exactly the two probed cells — cell=2's directory is pruned at file
    // listing and never scanned (inputFiles can't show this: it reports
    // the unfiltered relation)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters:"), plan.take(2000))
    assert("PartitionFilters: \\[[^\\]]*IN \\(0,1\\)".r
      .findFirstIn(plan).isDefined, plan.take(2000))
  }

  test("IVF-PQ with every cell probed matches plain ADC top-k") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-eq").toString
    IvfIndex.buildPq(vecs, "vec_id", "embedding", "label", dir, numSub = 3)
    val q = Seq(1.0, 0.05, 0.0)
    val composed = IvfIndex.topKPq(spark, dir, "vec_id", q, k = 4, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val plain = Similarity.pqTopK(vecs, "vec_id", "embedding", "label",
        numSub = 3, q, k = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(composed == plain)
  }

  test("IVF-PQ rejects candidates without rescore before any Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-arg").toString
    IvfIndex.buildPq(vecs, "vec_id", "embedding", "label", dir, numSub = 3)
    val group = s"graft-ivfpq-arg-${System.nanoTime()}"
    val sc = spark.sparkContext
    sc.setJobGroup(group, "invalid topKPq arguments")
    try intercept[IllegalArgumentException](
      IvfIndex.topKPq(spark, dir, "vec_id", Seq(1.0, 0.05, 0.0),
        k = 3, nprobe = 2, candidates = 10))
    finally sc.clearJobGroup()
    // the centroid probe would have run as a job in this group
    assert(sc.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("IVF-PQ prunes codes AND rescore scans; vectors never shuffle") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-pl").toString
    IvfIndex.buildPq(vecs, "vec_id", "embedding", "label", dir, numSub = 3)
    val out = IvfIndex.topKPq(spark, dir, "vec_id", Seq(1.0, 0.05, 0.0),
      k = 3, nprobe = 2, rescore = true)
    val rows = out.collect()
    // rescore output is ordered by the EXACT similarity
    assert(rows.map(_.getDouble(2)).toSeq ==
      rows.map(_.getDouble(2)).sortBy(-_).toSeq)
    assert(rows.map(_.getLong(0)).toSet.subsetOf(Set(0L, 1L, 2L, 3L)))
    val plan = out.queryExecution.executedPlan
    val ps = plan.toString
    // BOTH data-sized scans prune to the probed cells: the PQ code scan
    // (the ADC input) and the raw-vector scan (the rescore input) — count
    // in the AQE final plan only (toString repeats the initial plan)
    val finalPs = ps.split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*IN \\(0,1\\)".r
      .findAllIn(finalPs).size == 2, ps.take(4000))
    // the embeddings never cross an exchange — ADC scores codes, and the
    // k winners BROADCAST to the pruned raw scan for the rescore
    val shuffledCols = plan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name)
    }.flatten
    assert(!shuffledCols.contains("embedding"), shuffledCols.toString)
    assert(ps.contains("BroadcastHashJoin"), ps.take(4000))
  }

  test("learned-quantizer index: parity with label build on separable data") {
    // the planted labels ARE the true clusters, and k-means with k=3
    // converges to them on this separable set — so the learned index
    // must return the same top-k as the label-built one
    val dirL = java.nio.file.Files.createTempDirectory("graft-ivf-lab").toString
    val dirK = java.nio.file.Files.createTempDirectory("graft-ivf-km").toString
    IvfIndex.build(vecs, "vec_id", "embedding", "label", dirL)
    IvfIndex.buildKMeans(vecs, "vec_id", "embedding", dirK,
      nlist = 3, iters = 4)
    val q = Seq(1.0, 0.05, 0.0)
    def res(dir: String) =
      IvfIndex.topK(spark, dir, "vec_id", "embedding", q, k = 3, nprobe = 2)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(res(dirK) == res(dirL))
  }

  test("k-means assignment is a row-local projection — no shuffle") {
    val assigned = graft.ext.KMeans.assigned(vecs, "vec_id", "embedding",
      k = 3, iters = 2)
    val shuffles = assigned.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.isEmpty,
      "assignment must ride the scan (centroids are plan literals): " +
        shuffles.toString)
    // and the learned PQ index still serves with pruning intact
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpqkm").toString
    IvfIndex.buildPqKMeans(vecs, "vec_id", "embedding", dir,
      nlist = 3, numSub = 3, iters = 4)
    val out = IvfIndex.topKPq(spark, dir, "vec_id", Seq(1.0, 0.05, 0.0),
      k = 3, nprobe = 2, rescore = true)
    assert(out.collect().nonEmpty)
    val ps = out.queryExecution.executedPlan.toString
      .split("== Initial Plan ==").head
    assert("PartitionFilters: \\[[^\\]]*IN \\(".r
      .findAllIn(ps).size == 2, ps.take(4000))
  }

  test("append assigns by the frozen quantizer and rewrites nothing") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfapp")
      .toString
    val base = vecs.filter("vec_id % 2 = 0") // one seed vector per cell
    IvfIndex.buildKMeans(base, "vec_id", "embedding", dir,
      nlist = 3, iters = 3)
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/data"))
        .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet
    }
    val before = dataFiles()
    IvfIndex.append(vecs.filter("vec_id % 2 = 1"), "vec_id",
      "embedding", dir)
    // incremental: every pre-append file survives untouched; the new
    // rows land as new files inside existing cell partitions
    assert(before.subsetOf(dataFiles()) && dataFiles().size > before.size)
    // frozen quantizer ⇒ identical to a from-scratch build with the
    // same centroids: each odd vector joined its even twin's cell
    val cells = spark.read.parquet(s"$dir/data")
      .select("vec_id", "cell").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert((0 to 2).forall(i => cells(2L * i) == cells(2L * i + 1)))
    // and the query serves old + new rows through the same probes
    val got = IvfIndex.topK(spark, dir, "vec_id", "embedding",
        Seq(1.0, 0.05, 0.0), k = 3, nprobe = 1)
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(0L, 1L))
  }

  test("appendPq encodes against the frozen codebook; ADC serves ingest") {
    val dir = java.nio.file.Files.createTempDirectory("graft-pqapp")
      .toString
    IvfIndex.buildPqKMeans(vecs.filter("vec_id % 2 = 0"), "vec_id",
      "embedding", dir, nlist = 3, numSub = 3, iters = 3)
    IvfIndex.appendPq(vecs.filter("vec_id % 2 = 1"), "vec_id",
      "embedding", dir)
    // every vector — base and appended — is servable through ADC with
    // every cell probed, and the exact rescore ranks the true nearest
    // first (including appended vec 1)
    val out = IvfIndex.topKPq(spark, dir, "vec_id", Seq(1.0, 0.05, 0.0),
        k = 6, nprobe = 3, rescore = true)
      .collect().map(_.getLong(0)).toSeq
    assert(out.size == 6 && out.take(2) == Seq(0L, 1L))
    // codes exist for all six ids
    assert(spark.read.parquet(s"$dir/codes").select("vec_id")
      .distinct().count() == 6L)
  }
}
