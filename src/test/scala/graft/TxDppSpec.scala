package graft

import java.nio.file.Files

import graft.sources.{TxCatalog, TxFlatScan, TxPartitionedScan, TxRuntimeFilter, TxStats, TxTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** Dynamic partition pruning on the partitioned tx scan
  * (TxPartitionedScan + SupportsRuntimeV2Filtering): a fact-dim join
  * whose dim filter selects a handful of partition values must not
  * scan every fact partition — Catalyst injects a dynamic subquery on
  * the dim broadcast, BatchScanExec hands the materialized keys back
  * as V2 IN predicates, and the scan drops whole value groups BEFORE
  * any parquet footer is opened. */
class TxDppSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("txdpp-").toString + "/tbl"

  /** Collect TxPartitionedScans, descending through AQE query stages
    * (QueryStageExec is leaf-like; plain collect stops at it). */
  private def txScans(plan: SparkPlan): Seq[TxPartitionedScan] = {
    val here = plan match {
      case b: BatchScanExec => Seq(b.scan).collect {
        case s: TxPartitionedScan => s }
      case _ => Nil
    }
    val kids: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(txScans)
  }

  private def fixture(): (String, DataFrame) = {
    import spark.implicits._
    val tbl = tmp()
    val fact = (1 to 300).map(i =>
      (i.toLong, Seq("en", "de", "fr")(i % 3), i * 10L))
      .toDF("id", "lang", "chars")
    TxTable.commit(fact, tbl, "overwrite", partitionBy = Some(Seq("lang")))
    // the dim must be FILE-backed: an in-memory LocalRelation folds its
    // filter away before PartitionPruning runs, and DPP requires a
    // selective Filter node on the dim side (the real fact-dim shape)
    val dimDir = Files.createTempDirectory("txdpp-dim-").toString
    Seq(("en", "keep"), ("de", "drop"), ("fr", "drop"))
      .toDF("lang", "flag").write.mode("overwrite").parquet(dimDir)
    (tbl, spark.read.parquet(dimDir))
  }

  test("fact-dim join prunes fact value groups at runtime") {
    val (tbl, dim) = fixture()
    val wh = tbl.stripSuffix("/tbl")
    TxCatalog.register(spark, "txdpp", wh)
    dim.createOrReplaceTempView("txdpp_dim")
    val q = spark.sql(
      """SELECT f.id, f.chars FROM txdpp.tbl f
        |JOIN txdpp_dim d ON f.lang = d.lang
        |WHERE d.flag = 'keep'""".stripMargin)
    val rows = q.collect()
    // correctness first: exactly the en slice
    assert(rows.length == 100)
    assert(rows.map(_.getLong(0) % 3).forall(_ == 0))
    // the optimizer injected a dynamic pruning subquery on the scan
    assert(q.queryExecution.executedPlan.toString
      .toLowerCase.contains("dynamicpruning"),
      "expected a dynamic pruning subquery on the tx scan")
    // and the scan planned ONLY the matching value group — the de/fr
    // groups were dropped before any parquet footer was opened
    val scans = txScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a TxPartitionedScan in the plan")
    assert(scans.exists(s => s.plannedGroups == 1 && s.runtimePruned > 0),
      s"expected 1 planned group with pruning, got " +
        scans.map(s => (s.plannedGroups, s.runtimePruned)).mkString(","))
  }

  test("DPP result equals the non-DPP plan; unknown shapes keep everything") {
    val (tbl, dim) = fixture()
    val wh = tbl.stripSuffix("/tbl")
    TxCatalog.register(spark, "txdpp2", wh)
    dim.createOrReplaceTempView("txdpp2_dim")
    def run() = spark.sql(
      """SELECT f.id, f.chars, d.flag FROM txdpp2.tbl f
        |JOIN txdpp2_dim d ON f.lang = d.lang
        |WHERE d.flag <> 'keep'
        |ORDER BY f.id""".stripMargin)
    val withDpp = run().collect()
    val without = withConf(
      "spark.sql.optimizer.dynamicPartitionPruning.enabled" -> "false")(
      run().collect())
    assert(withDpp.toSeq == without.toSeq)
    assert(withDpp.length == 200) // de + fr
  }

  private def txFlatScans(plan: SparkPlan): Seq[TxFlatScan] = {
    val here = plan match {
      case b: BatchScanExec => Seq(b.scan).collect { case s: TxFlatScan => s }
      case _ => Nil
    }
    val kids: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case other => other.children
    }
    here ++ kids.flatMap(txFlatScans)
  }

  test("flat scan: runtime join keys prune files by min/max range") {
    import spark.implicits._
    val tbl = tmp()
    // three commits with DISJOINT id ranges => per-file min/max prunes
    (0 to 2).foreach { k =>
      val slice = (1 to 100).map(i => (k * 1000 + i.toLong, i * 10L))
        .toDF("id", "chars")
      TxTable.commit(slice, tbl, if (k == 0) "overwrite" else "append")
    }
    val wh = tbl.stripSuffix("/tbl")
    TxCatalog.register(spark, "txdfp", wh)
    val dimDir = Files.createTempDirectory("txdfp-dim-").toString
    Seq((5L, "keep"), (2050L, "keep"), (7L, "drop"))
      .toDF("id", "flag").write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("txdfp_dim")
    val q = spark.sql(
      s"""SELECT f.id, f.chars FROM txdfp.tbl f
         |JOIN txdfp_dim d ON f.id = d.id
         |WHERE d.flag = 'keep'""".stripMargin)
    val rows = q.collect()
    assert(rows.map(_.getLong(0)).sorted.toSeq == Seq(5L, 2050L))
    val scans = txFlatScans(q.queryExecution.executedPlan)
    assert(scans.nonEmpty, "expected a TxFlatScan in the plan")
    // ids 5 and 2050 live in exactly 2 files; every other file's
    // disjoint [min,max] range pruned at runtime
    val m = TxTable.readManifest(java.nio.file.Paths.get(tbl),
      TxTable.latestVersion(tbl).get)
    assert(scans.exists(_.runtimePruned == m.files.size - 2),
      s"expected ${m.files.size - 2} of ${m.files.size} files pruned, " +
        s"got " + scans.map(_.runtimePruned).mkString(","))
  }

  test("flat scan: runtime join keys prune files by BLOOM when ranges overlap") {
    import spark.implicits._
    val tbl = tmp()
    // three commits with INTERLEAVED ids (k, k+3, k+6, …): every file
    // spans [k, ~300] so min/max can never prune — only the per-file
    // bloom on id can prove a file holds none of the probed keys
    (0 to 2).foreach { k =>
      val slice = (0 to 99).map(i => (3L * i + k, i * 10L))
        .toDF("id", "chars").coalesce(1)
      TxTable.commit(slice, tbl, if (k == 0) "overwrite" else "append",
        bloomColumns = Seq("id"))
    }
    val wh = tbl.stripSuffix("/tbl")
    TxCatalog.register(spark, "txdfb", wh)
    val dimDir = Files.createTempDirectory("txdfb-dim-").toString
    // both keep keys ≡ 0 (mod 3): only commit-0's file can hold them
    Seq((6L, "keep"), (33L, "keep"), (7L, "drop"))
      .toDF("id", "flag").write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("txdfb_dim")
    val q = spark.sql(
      s"""SELECT f.id FROM txdfb.tbl f
         |JOIN txdfb_dim d ON f.id = d.id
         |WHERE d.flag = 'keep'""".stripMargin)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == Seq(6L, 33L))
    val scans = txFlatScans(q.queryExecution.executedPlan)
    assert(scans.exists(_.runtimePruned == 2),
      s"expected the 2 other-residue files bloom-pruned, got " +
        scans.map(_.runtimePruned).mkString(","))
  }

  test("survivors: over-budget IN lists and unknown shapes keep every file") {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("id", LongType)))
    val stats = Map("f1" -> Map("id" -> TxStats.ColStat("0", "10")))
    def inPred(n: Int) =
      org.apache.spark.sql.graftbridge.GraftBridge.filterToV2(
        org.apache.spark.sql.sources.In("id",
          (1 to n).map(i => (i.toLong + 100L): Any).toArray))
    // a small IN of misses prunes f1 (all values above its max)
    assert(TxRuntimeFilter.survivors(Seq("f1"), stats, Map.empty, schema,
      Array(inPred(3))).isEmpty)
    // the same shape past the budget keeps it — conservative, never wrong
    assert(TxRuntimeFilter.survivors(Seq("f1"), stats, Map.empty, schema,
      Array(inPred(TxRuntimeFilter.MaxRuntimeInValues + 1))) == Seq("f1"))
  }

  test("skip and runtime-prune counts surface as SQL metrics on the scan node") {
    import spark.implicits._
    val tbl = tmp()
    (0 to 2).foreach { k =>
      TxTable.commit(
        (1 to 50).map(i => (k * 1000 + i.toLong, i * 2L)).toDF("id", "n")
          .coalesce(1),
        tbl, if (k == 0) "overwrite" else "append")
    }
    val wh = tbl.stripSuffix("/tbl")
    TxCatalog.register(spark, "txmet", wh)
    val dimDir = Files.createTempDirectory("txmet-dim-").toString
    Seq((2010L, "keep")).toDF("id", "flag")
      .write.mode("overwrite").parquet(dimDir)
    spark.read.parquet(dimDir).createOrReplaceTempView("txmet_dim")
    val q = spark.sql(
      s"""SELECT f.id FROM txmet.tbl f
         |JOIN txmet_dim d ON f.id = d.id
         |WHERE d.flag = 'keep'""".stripMargin)
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(2010L))
    def scanExecs(p: SparkPlan): Seq[BatchScanExec] = {
      val kids: Seq[SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(s.plan)
        case other => other.children
      }
      (p match {
        case b: BatchScanExec if b.scan.isInstanceOf[TxFlatScan] => Seq(b)
        case _ => Nil
      }) ++ kids.flatMap(scanExecs)
    }
    val execs = scanExecs(q.queryExecution.executedPlan)
    assert(execs.nonEmpty)
    val metrics = execs.head.metrics
    assert(metrics.contains("filesRuntimePruned") &&
      metrics("filesRuntimePruned").value == 2,
      s"expected 2 runtime-pruned files in SQL metrics, got " +
        metrics.get("filesRuntimePruned").map(_.value))
    assert(metrics.contains("filesSkipped"),
      "planning-skip metric must be declared on the scan node")
  }

  test("a runtime filter never prunes the null-valued group (kept conservatively)") {
    import spark.implicits._
    val tbl = tmp()
    val fact = Seq((1L, "en", 10L), (2L, null.asInstanceOf[String], 20L),
      (3L, "de", 30L)).toDF("id", "lang", "chars")
    TxTable.commit(fact, tbl, "overwrite", partitionBy = Some(Seq("lang")))
    val wh = tbl.stripSuffix("/tbl")
    TxCatalog.register(spark, "txdpp3", wh)
    Seq(("en", 1)).toDF("lang", "w").createOrReplaceTempView("txdpp3_dim")
    val q = spark.sql(
      """SELECT f.id FROM txdpp3.tbl f
        |JOIN txdpp3_dim d ON f.lang = d.lang""".stripMargin)
    // a null partition key can never join — correctness is unaffected
    // whether or not the group is planned; only the en row survives
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
  }
}
