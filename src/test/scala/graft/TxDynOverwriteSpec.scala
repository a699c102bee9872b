package graft

import java.nio.file.{Files, Paths}

import graft.sources.{TxCatalog, TxTable}
import org.apache.spark.sql.functions._

/** Dynamic partition overwrite (commit mode `dynoverwrite`, Spark's
  * partitionOverwriteMode=dynamic contract): only partitions PRESENT
  * in the frame replace; every other partition's files carry forward
  * VERBATIM — at 100 TB the daily-partition reload must not rewrite
  * (or even re-list) the other 364 days. */
class TxDynOverwriteSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("txdyn-").toString + "/tbl"

  private def mk(tbl: String): Unit = {
    import spark.implicits._
    val df = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "fr", 30L),
      (4L, "en", 40L)).toDF("id", "lang", "n")
    TxTable.commit(df, tbl, "overwrite", partitionBy = Some(Seq("lang")))
  }

  test("replaces only the partitions present; others carry files verbatim") {
    import spark.implicits._
    val tbl = tmp()
    mk(tbl)
    val m1 = TxTable.readManifest(Paths.get(tbl), 1L)
    val v = TxTable.commit(
      Seq((9L, "en", 90L)).toDF("id", "lang", "n"), tbl, "dynoverwrite")
    assert(v == 2L)
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m2.op == "dynoverwrite")
    // de and fr files carried byte-identical; en files replaced
    def langOf(f: String) =
      f.split('/').collectFirst {
        case seg if seg.startsWith("lang=") => seg.stripPrefix("lang=")
      }.get
    val keptOld = m1.files.filter(f => langOf(f) != "en")
    assert(keptOld.forall(m2.files.contains))
    assert(m1.files.filter(f => langOf(f) == "en")
      .forall(f => !m2.files.contains(f)))
    // carried files keep their stats entries
    assert(keptOld.forall(m2.stats.contains))
    val out = TxTable.read(spark, tbl).select("id", "lang", "n")
      .orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((2L, "de", 20L), (3L, "fr", 30L),
      (9L, "en", 90L)))
    // time travel: v1 still serves the pre-reload snapshot
    assert(TxTable.readVersion(spark, tbl, 1L).count() == 4L)
  }

  test("refusals: unpartitioned table, first commit, schema drift") {
    import spark.implicits._
    val flat = tmp()
    TxTable.commit(Seq((1L, "x")).toDF("id", "s"), flat, "overwrite")
    intercept[IllegalArgumentException](TxTable.commit(
      Seq((2L, "y")).toDF("id", "s"), flat, "dynoverwrite"))
    val fresh = tmp()
    intercept[IllegalArgumentException](TxTable.commit(
      Seq((1L, "en", 1L)).toDF("id", "lang", "n"), fresh, "dynoverwrite"))
    val tbl = tmp()
    mk(tbl)
    intercept[IllegalArgumentException](TxTable.commit(
      Seq((1L, "en")).toDF("id", "lang"), tbl, "dynoverwrite"))
    assert(TxTable.latestVersion(tbl).contains(1L))
  }

  test("SQL INSERT OVERWRITE: dynamic under the conf, static truncates") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txdyn-sql-").toString
    TxCatalog.register(spark, "txdo", wh)
    mk(s"$wh/t")
    // table order is (id, n, lang) — partition columns last; INSERT
    // resolves by position
    Seq((9L, 90L, "en")).toDF("id", "n", "lang")
      .createOrReplaceTempView("txdo_src")
    withConf("spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
      spark.sql("INSERT OVERWRITE txdo.t SELECT * FROM txdo_src"))
    assert(TxTable.readManifest(Paths.get(s"$wh/t"), 2L).op
      == "dynoverwrite")
    assert(spark.sql("SELECT id FROM txdo.t ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(2L, 3L, 9L))
    // static mode (the default): the same statement truncates
    spark.sql("INSERT OVERWRITE txdo.t SELECT * FROM txdo_src")
    assert(TxTable.readManifest(Paths.get(s"$wh/t"), 3L).op == "overwrite")
    assert(spark.sql("SELECT id FROM txdo.t").collect()
      .map(_.getLong(0)).toSeq == Seq(9L))
  }

  test("untouched partitions keep their deletion-vector tombstones") {
    import spark.implicits._
    val tbl = tmp()
    val df = Seq((1L, "en", 10L), (2L, "de", 20L), (3L, "de", 30L))
      .toDF("id", "lang", "n")
    TxTable.commit(df, tbl, "overwrite", partitionBy = Some(Seq("lang")))
    // MoR-delete one de row, then dynamically reload en
    TxTable.deleteWhereMor(spark, tbl,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 2L))): Unit
    TxTable.commit(Seq((9L, "en", 90L)).toDF("id", "lang", "n"),
      tbl, "dynoverwrite")
    val out = TxTable.read(spark, tbl).orderBy("id")
      .collect().map(_.getLong(0))
    assert(out.toSeq == Seq(3L, 9L)) // id=2 stays deleted
  }

  test("batch CDF across a dynamic overwrite emits the partition's row diff") {
    import spark.implicits._
    val tbl = tmp()
    mk(tbl)
    TxTable.commit(Seq((9L, "en", 90L)).toDF("id", "lang", "n"),
      tbl, "dynoverwrite")
    val feed = graft.sources.TxChanges.between(spark, tbl, 1L, 2L)
    val rows = feed.select("id", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // en rows 1 and 4 deleted, 9 inserted; de/fr untouched (no rows)
    assert(rows.toSeq == Seq((1L, "delete"), (4L, "delete"),
      (9L, "insert")))
  }
}
