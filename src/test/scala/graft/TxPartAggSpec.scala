package graft

import java.nio.file.Files

import graft.sources.{TxCatalog, TxTable}
import org.apache.spark.sql.functions._

/** Partition-column aggregates served from the MANIFEST (+ footer row
  * counts): MIN/MAX over a partition column read the value layout —
  * zero data bytes — and COUNT sums per-file footer row counts, the
  * same O(files) metadata envelope as the delegated footer count. Row
  * counts also guard the one edge the manifest alone cannot see: a
  * zero-row file's path value must not contribute to MIN/MAX. */
class TxPartAggSpec extends SparkSpec {

  private def mk(name: String): String = {
    import spark.implicits._
    val wh = Files.createTempDirectory(name).toString
    val df = Seq((1L, "en"), (2L, "de"), (3L, "fr"), (4L, null))
      .toDF("id", "lang")
    TxTable.commit(df, s"$wh/t", "overwrite",
      partitionBy = Some(Seq("lang")))
    wh
  }

  test("MIN/MAX/COUNT on a partition column serve from metadata as a LocalScan") {
    val wh = mk("txpagg-")
    TxCatalog.register(spark, "tpa", wh)
    val q = spark.sql(
      """SELECT count(*) AS n, count(lang) AS nl,
        |  min(lang) AS lo, max(lang) AS hi FROM tpa.t""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") ||
      plan.contains("agg=manifest-partition-values"),
      s"expected a metadata-served aggregate, got:\n$plan")
    assert(!plan.contains("ParquetScan"), s"data was scanned:\n$plan")
    val r = q.collect().head
    // count(*) counts the NULL-lang row; count(lang)/min/max skip it
    assert((r.getLong(0), r.getLong(1), r.getString(2), r.getString(3))
      == (4L, 3L, "de", "fr"))
  }

  test("integer partition values order numerically, not lexically") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txpagg-int-").toString
    TxTable.commit(
      Seq((1L, 2), (2L, 10), (3L, 9)).toDF("id", "bucket"),
      s"$wh/t", "overwrite", partitionBy = Some(Seq("bucket")))
    TxCatalog.register(spark, "tpai", wh)
    val r = spark.sql(
      "SELECT min(bucket) AS lo, max(bucket) AS hi FROM tpai.t")
      .collect().head
    assert((r.getInt(0), r.getInt(1)) == (2, 10)) // "10" < "2" lexically
  }

  test("declines: conf off, filters present, grouped, or data columns mixed in") {
    val wh = mk("txpagg-d-")
    TxCatalog.register(spark, "tpad", wh)
    def planOf(sql: String): String = {
      val q = spark.sql(sql)
      q.collect(): Unit
      q.queryExecution.executedPlan.toString
    }
    // conf off (the profile turns it on): neither the metadata answer
    // nor the manifest-served scan, results still right
    withConf("spark.sql.parquet.aggregatePushdown" -> "false") {
      val off = planOf("SELECT min(lang) AS lo FROM tpad.t")
      assert(!off.contains("LocalTableScan") &&
        !off.contains("manifest-partition-values"),
        s"served from metadata with the conf off:\n$off")
      assert(spark.sql("SELECT min(lang) AS lo FROM tpad.t")
        .collect().head.getString(0) == "de")
    }
    // a filter makes footer/manifest serving unsound — declined
    assert(!planOf("SELECT min(lang) AS lo FROM tpad.t WHERE id > 2")
      .contains("manifest-partition-values"))
    // grouping declined
    assert(!planOf(
      "SELECT lang, count(*) AS n FROM tpad.t GROUP BY lang")
      .contains("manifest-partition-values"))
    // data-column MIN mixed in declined (stock utility would throw
    // on the partition column; the whole shape falls back)
    assert(!planOf("SELECT min(lang) AS lo, min(id) AS mi FROM tpad.t")
      .contains("manifest-partition-values"))
    // and the values stay correct on every fallback
    val r = spark.sql(
      "SELECT min(lang) AS lo, min(id) AS mi FROM tpad.t")
      .collect().head
    assert((r.getString(0), r.getLong(1)) == ("de", 1L))
  }
}
