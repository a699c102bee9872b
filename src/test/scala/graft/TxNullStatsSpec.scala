package graft

import java.nio.file.{Files, Paths}

import graft.sources.{TxCatalog, TxStats, TxTable}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.{EqualTo, IsNotNull, IsNull}
import org.apache.spark.sql.types._

/** Per-file NULL/ROW counts in the skipping stats (ColStat.nulls/rows):
  * `IS NOT NULL` proves out an all-null file, `IS NULL` a null-free
  * one, and a value probe on an all-null column short-circuits before
  * any min/max parse. Unknown counts (-1 — legacy manifests, partition
  * value entries) never skip. */
class TxNullStatsSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("txnull-").toString + "/tbl"

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("x", LongType)))

  private def frame(rows: (Long, java.lang.Long)*) =
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(
          rows.map(r => Row(r._1, r._2)).toList).asJava), schema)

  test("commits record null/row counts; null predicates skip through them") {
    val tbl = tmp()
    // file 1: x null-free; file 2: x all null; file 3: mixed
    TxTable.commit(frame((1L, 10L), (2L, 20L)).coalesce(1), tbl,
      "overwrite")
    TxTable.commit(frame((3L, null), (4L, null)).coalesce(1), tbl,
      "append")
    TxTable.commit(frame((5L, 50L), (6L, null)).coalesce(1), tbl,
      "append")
    val m = TxTable.readManifest(Paths.get(tbl), 3L)
    assert(m.files.size == 3)
    val stats = m.files.map(f => f -> m.stats(f)).toMap
    val byNulls = m.files.sortBy(f => stats(f)("x").nulls)
    val Seq(clean, mixed, allNull) = byNulls
    assert(stats(clean)("x") == TxStats.ColStat("10", "20", 0L, 2L))
    assert(stats(mixed)("x").nulls == 1L && stats(mixed)("x").rows == 2L)
    // the ALL-NULL file still carries an entry (sentinel min/max)
    assert(stats(allNull)("x").nulls == 2L &&
      stats(allNull)("x").rows == 2L && stats(allNull)("x").min == "")
    def excl(f: String, fl: org.apache.spark.sql.sources.Filter) =
      TxStats.excludes(stats(f), schema, fl)
    // IS NOT NULL proves out exactly the all-null file
    assert(excl(allNull, IsNotNull("x")))
    assert(!excl(clean, IsNotNull("x")) && !excl(mixed, IsNotNull("x")))
    // IS NULL proves out exactly the null-free file
    assert(excl(clean, IsNull("x")))
    assert(!excl(mixed, IsNull("x")) && !excl(allNull, IsNull("x")))
    // a value probe can never match an all-null file — excluded before
    // any parse of the ""/"" sentinel
    assert(excl(allNull, EqualTo("x", java.lang.Long.valueOf(10L))))
    // unknown counts never skip on null predicates
    assert(!TxStats.excludes(Map("x" -> TxStats.ColStat("1", "9")),
      schema, IsNotNull("x")))
    assert(!TxStats.excludes(Map("x" -> TxStats.ColStat("1", "9")),
      schema, IsNull("x")))
  }

  test("DELETE WHERE x IS NULL rewrites only null-bearing files") {
    val tbl = tmp()
    TxTable.commit(frame((1L, 10L), (2L, 20L)).coalesce(1), tbl,
      "overwrite")
    TxTable.commit(frame((3L, null), (4L, 40L)).coalesce(1), tbl,
      "append")
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    TxTable.deleteWhere(spark, tbl, Seq(IsNull("x"))): Unit
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    // the null-free file carried forward VERBATIM
    val cleanFile = m2.files.find(f => m2.stats(f)("x").nulls == 0L).get
    assert(m3.files.contains(cleanFile))
    assert(!m3.files.contains(
      m2.files.find(f => m2.stats(f)("x").nulls == 1L).get))
    assert(TxTable.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 4L))
  }

  test("counts round-trip the manifest; legacy entries read back unknown") {
    val tbl = tmp()
    TxTable.commit(frame((1L, null)).coalesce(1), tbl, "overwrite")
    val reread = TxTable.readManifest(Paths.get(tbl), 1L)
    assert(reread.stats.values.head("x").nulls == 1L)
    assert(reread.stats.values.head("x").rows == 1L)
    // id has values: full stats with counts
    assert(reread.stats.values.head("id") ==
      TxStats.ColStat("1", "1", 0L, 1L))
    // defaults are the unknown sentinel
    assert(TxStats.ColStat("a", "b").nulls == -1L &&
      TxStats.ColStat("a", "b").rows == -1L)
  }

  test("SQL scan prunes the all-null file under IS NOT NULL") {
    val tbl = tmp()
    TxTable.commit(frame((1L, 10L)).coalesce(1), tbl, "overwrite")
    TxTable.commit(frame((2L, null)).coalesce(1), tbl, "append")
    val wh = tbl.stripSuffix("/tbl")
    TxCatalog.register(spark, "txns", wh)
    val q = spark.sql("SELECT id FROM txns.tbl WHERE x IS NOT NULL")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(1L))
    assert(q.queryExecution.executedPlan.toString
      .contains("InMemoryFileIndex(1 paths)"),
      "expected the all-null file pruned at planning:\n" +
        q.queryExecution.executedPlan)
  }
}
