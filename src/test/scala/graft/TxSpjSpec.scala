package graft

import java.nio.file.Files

import graft.sources.{TxCatalog, TxTable}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._

/** Storage-partitioned joins (TxPartitionedScan +
  * SupportsReportPartitioning/KeyGroupedPartitioning): two tx tables
  * partitioned by the same column join WITHOUT a shuffle under
  * spark.sql.sources.v2.bucketing.enabled — Spark groups each scan's
  * splits by their partition-value key into one task per value and
  * aligns both sides. At 100 TB the co-partitioned join's exchange
  * would move the whole table; SPJ is that exchange deleted. */
class TxSpjSpec extends SparkSpec {

  private def tmp(name: String): String =
    Files.createTempDirectory(name).toString + "/tbl"

  private def shuffles(plan: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = plan match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case other => other.children
    }
    (plan match {
      case s: ShuffleExchangeLike => Seq(s)
      case _ => Nil
    }) ++ kids.flatMap(shuffles)
  }

  private def withSpj[T](extra: (String, String)*)(body: => T): T =
    withConf(Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") ++ extra: _*)(body)

  private def mkTables(): (String, String) = {
    import spark.implicits._
    val a = tmp("txspj-a-")
    val b = tmp("txspj-b-")
    val left = (1 to 300).map(i =>
      (i.toLong, Seq("en", "de", "fr")(i % 3), i * 10L))
      .toDF("id", "lang", "chars")
    val right = Seq(("en", 1.0), ("de", 2.0), ("fr", 3.0))
      .flatMap { case (l, w) => (1 to 5).map(k => (l, w * k)) }
      .toDF("lang", "weight")
    TxTable.commit(left, a, "overwrite", partitionBy = Some(Seq("lang")))
    TxTable.commit(right, b, "overwrite", partitionBy = Some(Seq("lang")))
    (a, b)
  }

  test("co-partitioned tx-tx join runs with ZERO shuffles") {
    val (a, b) = mkTables()
    TxCatalog.register(spark, "spja", a.stripSuffix("/tbl"))
    TxCatalog.register(spark, "spjb", b.stripSuffix("/tbl"))
    withSpj() {
      val q = spark.sql(
        """SELECT f.lang, count(*) AS n, sum(f.chars * d.weight) AS wsum
          |FROM spja.tbl f JOIN spjb.tbl d ON f.lang = d.lang
          |GROUP BY f.lang""".stripMargin)
      val rows = q.collect().map(r =>
        (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      // each fact row matches 5 dim rows of its lang
      assert(rows.map(_._2).toSeq == Seq(500L, 500L, 500L))
      assert(shuffles(q.queryExecution.executedPlan).isEmpty,
        "expected a shuffle-free storage-partitioned join, got:\n" +
          q.queryExecution.executedPlan)
    }
  }

  test("SPJ result equals the shuffle plan's result") {
    val (a, b) = mkTables()
    TxCatalog.register(spark, "spjc", a.stripSuffix("/tbl"))
    TxCatalog.register(spark, "spjd", b.stripSuffix("/tbl"))
    def run(): Seq[(Long, String, Double)] = spark.sql(
      """SELECT f.id, f.lang, d.weight
        |FROM spjc.tbl f JOIN spjd.tbl d ON f.lang = d.lang
        |ORDER BY f.id, d.weight""".stripMargin)
      .collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val spj = withSpj()(run())
    val classic = run() // default confs: broadcast/shuffle path
    assert(spj == classic)
    assert(spj.size == 1500)
  }

  test("groupBy on the partition column aggregates without a shuffle") {
    import spark.implicits._
    val t = tmp("txspj-g-")
    val df = (1 to 200).map(i =>
      (i.toLong, Seq("en", "de")(i % 2), i.toLong)).toDF("id", "lang", "n")
    TxTable.commit(df, t, "overwrite", partitionBy = Some(Seq("lang")))
    TxCatalog.register(spark, "spjg", t.stripSuffix("/tbl"))
    withSpj() {
      val q = spark.sql(
        "SELECT lang, sum(n) AS s FROM spjg.tbl GROUP BY lang")
      val rows = q.collect().map(r => (r.getString(0), r.getLong(1)))
        .sortBy(_._1)
      assert(rows.toSeq == Seq(
        ("de", (1 to 199 by 2).map(_.toLong).sum),
        ("en", (2 to 200 by 2).map(_.toLong).sum)))
      assert(shuffles(q.queryExecution.executedPlan).isEmpty,
        "expected a shuffle-free partition-aligned aggregation, got:\n" +
          q.queryExecution.executedPlan)
    }
  }

  test("bucketed pattern: high-cardinality join co-partitioned by a bucket column") {
    import spark.implicits._
    // the Iceberg bucket-join shape with an EXPLICIT bucket column:
    // both sides partitioned by idb = id % 8, joined on (idb, id) —
    // partition keys ⊆ join keys, so KeyGroupedPartitioning satisfies
    // the join's clustering on both sides with zero shuffles
    val a = tmp("txspj-ba-")
    val b = tmp("txspj-bb-")
    def bucketed(rows: Seq[(Long, Long)]) =
      rows.toDF("id", "v").withColumn("idb",
        (col("id") % 8).cast("int"))
    TxTable.commit(bucketed((1 to 400).map(i => (i.toLong, i * 2L))),
      a, "overwrite", partitionBy = Some(Seq("idb")))
    TxTable.commit(bucketed((1 to 400 by 4).map(i => (i.toLong, i * 3L))),
      b, "overwrite", partitionBy = Some(Seq("idb")))
    TxCatalog.register(spark, "spjk", a.stripSuffix("/tbl"))
    TxCatalog.register(spark, "spjl", b.stripSuffix("/tbl"))
    // partition keys (idb) are a strict SUBSET of the join keys
    // (idb, id): co-partition on the subset is sound (equal idb ⇒ same
    // group) but gated behind Spark's requireAllClusterKeysForCoPartition
    withSpj("spark.sql.requireAllClusterKeysForCoPartition" -> "false") {
      val q = spark.sql(
        """SELECT f.id, f.v, d.v AS dv FROM spjk.tbl f
          |JOIN spjl.tbl d ON f.idb = d.idb AND f.id = d.id""".stripMargin)
      val rows = q.collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
      assert(rows.length == 100)
      assert(rows.forall { case (id, v, dv) => v == id * 2 && dv == id * 3 })
      assert(shuffles(q.queryExecution.executedPlan).isEmpty,
        "expected a shuffle-free bucket-co-partitioned join, got:\n" +
          q.queryExecution.executedPlan)
    }
  }

  test("mismatched partition sets still join shuffle-free (pushPartValues)") {
    import spark.implicits._
    val a = tmp("txspj-ma-")
    val b = tmp("txspj-mb-")
    // left has en/de/fr, right only en/de — Spark's v2 bucketing push
    // fills the missing group so the sides stay aligned without an
    // exchange; the fr rows simply find no partner (inner join)
    TxTable.commit(
      (1 to 90).map(i => (i.toLong, Seq("en", "de", "fr")(i % 3)))
        .toDF("id", "lang"),
      a, "overwrite", partitionBy = Some(Seq("lang")))
    TxTable.commit(
      Seq(("en", 1L), ("de", 2L)).toDF("lang", "w"),
      b, "overwrite", partitionBy = Some(Seq("lang")))
    TxCatalog.register(spark, "spjm", a.stripSuffix("/tbl"))
    TxCatalog.register(spark, "spjn", b.stripSuffix("/tbl"))
    withSpj(
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true") {
      val q = spark.sql(
        """SELECT f.id, d.w FROM spjm.tbl f
          |JOIN spjn.tbl d ON f.lang = d.lang""".stripMargin)
      val rows = q.collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.length == 60) // fr third drops out
      assert(rows.forall { case (id, w) =>
        (id % 3 == 0 && w == 1L) || (id % 3 == 1 && w == 2L) })
      assert(shuffles(q.queryExecution.executedPlan).isEmpty,
        "expected a shuffle-free join across mismatched partition " +
          "sets, got:\n" + q.queryExecution.executedPlan)
    }
  }

  test("a scan that prunes the partition column away reports unknown partitioning") {
    import spark.implicits._
    val t = tmp("txspj-u-")
    val df = (1 to 50).map(i => (i.toLong, Seq("en", "de")(i % 2)))
      .toDF("id", "lang")
    TxTable.commit(df, t, "overwrite", partitionBy = Some(Seq("lang")))
    TxCatalog.register(spark, "spju", t.stripSuffix("/tbl"))
    withSpj() {
      // no lang in the projection: the key expressions could not
      // resolve — the scan must fall back rather than lie
      assert(spark.sql("SELECT id FROM spju.tbl WHERE id <= 3")
        .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L))
    }
  }
}
