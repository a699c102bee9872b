package graft

import java.nio.file.{Files, Paths}

import graft.sources.{TxCatalog, TxTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, GreaterThan}

/** Predicate-scoped overwrite (TxTable.replaceWhere — Delta's
  * replaceWhere): ONE atomic commit deleting every row matching the
  * predicate and adding the new data — backfill-a-range without
  * touching any other range. Untouched files carry forward verbatim;
  * incoming rows OUTSIDE the predicate refuse loudly. */
class TxReplaceWhereSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("txrw-").toString + "/tbl"

  private def mk(tbl: String): Unit = {
    import spark.implicits._
    // one lang per commit => per-file min=max lang stats prune sharply
    Seq("en", "de", "fr").zipWithIndex.foreach { case (l, i) =>
      TxTable.commit(
        Seq((i * 10L + 1, l, 100L + i), (i * 10L + 2, l, 200L + i))
          .toDF("id", "lang", "n"),
        tbl, if (i == 0) "overwrite" else "append")
    }
  }

  test("replaces the matching range atomically; untouched files verbatim") {
    import spark.implicits._
    val tbl = tmp()
    mk(tbl)
    val m1 = TxTable.readManifest(Paths.get(tbl), 3L)
    val v = TxTable.replaceWhere(spark, tbl, Seq(EqualTo("lang", "de")),
      Seq((99L, "de", 999L)).toDF("id", "lang", "n"))
    assert(v == 4L)
    val m2 = TxTable.readManifest(Paths.get(tbl), 4L)
    assert(m2.op == "replacewhere")
    // the en and fr files (lang stats exclude 'de') carried verbatim
    val (deFiles, deFree) = m1.files.partition(f =>
      m1.stats(f)("lang").min == "de")
    assert(deFree.nonEmpty && deFree.forall(m2.files.contains))
    assert(deFiles.nonEmpty && deFiles.forall(f => !m2.files.contains(f)))
    val out = TxTable.read(spark, tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, "en", 100L), (2L, "en", 200L),
      (21L, "fr", 102L), (22L, "fr", 202L), (99L, "de", 999L)))
    // time travel keeps the pre-replace snapshot
    assert(TxTable.readVersion(spark, tbl, 3L).count() == 6L)
  }

  test("rows outside the predicate refuse loudly; nothing commits") {
    import spark.implicits._
    val tbl = tmp()
    mk(tbl)
    val e = intercept[IllegalArgumentException](
      TxTable.replaceWhere(spark, tbl, Seq(EqualTo("lang", "de")),
        Seq((99L, "fr", 999L)).toDF("id", "lang", "n")))
    assert(e.getMessage.contains("OUTSIDE the predicate"))
    assert(TxTable.latestVersion(tbl).contains(3L))
  }

  test("range predicates replace partial files (survivors kept)") {
    import spark.implicits._
    val tbl = tmp()
    TxTable.commit(
      (1 to 10).map(i => (i.toLong, i * 100L)).toDF("id", "n"),
      tbl, "overwrite")
    TxTable.replaceWhere(spark, tbl, Seq(GreaterThan("id", 7L)),
      Seq((8L, 0L)).toDF("id", "n"))
    val out = TxTable.read(spark, tbl).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSeq == (1 to 7).map(i => (i.toLong, i * 100L)) :+
      (8L, 0L))
  }

  test("SQL: INSERT OVERWRITE with a static PARTITION spec scopes to it") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txrw-sql-").toString
    TxCatalog.register(spark, "txrw", wh)
    val df = Seq((1L, 10L, "en"), (2L, 20L, "de"), (3L, 30L, "fr"))
      .toDF("id", "n", "lang")
    TxTable.commit(df, s"$wh/t", "overwrite",
      partitionBy = Some(Seq("lang")))
    spark.sql(
      """INSERT OVERWRITE txrw.t PARTITION (lang = 'de')
        |SELECT 9L AS id, 90L AS n""".stripMargin)
    assert(TxTable.readManifest(Paths.get(s"$wh/t"), 2L).op
      == "replacewhere")
    val out = spark.sql("SELECT id, n, lang FROM txrw.t ORDER BY id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, 10L, "en"), (3L, 30L, "fr"),
      (9L, 90L, "de")))
  }

  test("DataFrameWriterV2 overwrite(condition) routes through replaceWhere") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txrw-w2-").toString
    TxCatalog.register(spark, "txrw2", wh)
    TxTable.commit(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "s"), s"$wh/t",
      "overwrite")
    Seq((2L, "B")).toDF("id", "s").writeTo("txrw2.t")
      .overwrite(col("id") === 2L)
    assert(spark.sql("SELECT s FROM txrw2.t ORDER BY id").collect()
      .map(_.getString(0)).toSeq == Seq("a", "B", "c"))
  }
}
