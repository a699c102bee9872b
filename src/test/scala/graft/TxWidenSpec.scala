package graft

import java.nio.file.{Files, Paths}

import graft.sources.{TxCatalog, TxStats, TxTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo
import org.apache.spark.sql.types._

/** ALTER TABLE … ALTER COLUMN TYPE (type widening): one metadata
  * version (op `widen`), zero data movement — files keep their narrow
  * bytes and every reader relies on parquet's lossless read-schema
  * promotion (int32 as long, float as double). The non-obvious
  * correctness point pinned here is the STAT-STRING rewrite: a float
  * column's min/max recorded via Float.toString re-parses as a
  * DIFFERENT double than the promoted rows hold, and without the
  * rewrite file skipping would wrongly exclude files on exact-match
  * predicates. */
class TxWidenSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("txwiden-").toString + "/tbl"

  test("widen int->long is metadata-only; old files promote; appends stage wide") {
    import spark.implicits._
    val tbl = tmp()
    TxTable.commit(Seq((1, "a"), (2, "b")).toDF("n", "s"), tbl, "overwrite")
    val filesBefore = TxTable.readManifest(Paths.get(tbl), 1L).files
    val v = TxTable.widenColumn(spark, tbl, "n", LongType)
    assert(v == 2L)
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m2.op == "widen")
    assert(m2.files == filesBefore) // zero data movement
    // reads serve LONG, values identical (parquet read-schema promotion)
    val out = TxTable.read(spark, tbl)
    assert(out.schema("n").dataType == LongType)
    assert(out.orderBy("n").select("n").collect().map(_.getLong(0)).toSeq
      == Seq(1L, 2L))
    // time travel: v1 still answers at the OLD type
    assert(TxTable.readVersion(spark, tbl, 1L)
      .schema("n").dataType == IntegerType)
    // appends stage at the WIDE type — a value beyond Int.MaxValue lands
    TxTable.commit(Seq((5000000000L, "c")).toDF("n", "s"), tbl, "append")
    assert(TxTable.read(spark, tbl).agg(max("n")).collect()
      .head.getLong(0) == 5000000000L)
    // a narrow (int) append now refuses: the table's schema is long
    intercept[IllegalArgumentException](
      TxTable.commit(Seq((9, "d")).toDF("n", "s"), tbl, "append"))
    // and the mixed narrow+wide snapshot still skips on stats: the new
    // file's long stats and the old file's int-recorded stats both
    // parse exactly under LongType
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    val schema3 =
      DataType.fromJson(m3.schemaJson).asInstanceOf[StructType]
    val excluded = m3.files.filter(f => TxStats.excludes(
      m3.stats(f), schema3, EqualTo("n", java.lang.Long.valueOf(5000000000L))))
    assert(excluded.toSet == filesBefore.toSet) // every pre-widen file skips
    assert(m3.files.size > filesBefore.size)    // ...but not the new one
  }

  test("widen float->double rewrites stat strings through EXACT promotion") {
    import spark.implicits._
    val tbl = tmp()
    // 0.1f: Float.toString gives "0.1", but the promoted double value is
    // 0.10000000149011612 — the adversarial literal for skipping
    TxTable.commit(Seq((1L, 0.1f)).toDF("id", "x"), tbl, "overwrite")
    val m1 = TxTable.readManifest(Paths.get(tbl), 1L)
    assert(m1.stats.values.head("x").min == "0.1")
    TxTable.widenColumn(spark, tbl, "x", DoubleType): Unit
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    val exact = 0.1f.toDouble // 0.10000000149011612
    assert(m2.stats.values.head("x").min == exact.toString)
    assert(m2.stats.values.head("x").max == exact.toString)
    val schema2 =
      DataType.fromJson(m2.schemaJson).asInstanceOf[StructType]
    // the promoted row value must NOT be excluded (pre-rewrite it was:
    // "0.1".toDouble < exact, so [min,max] wrongly missed it)...
    assert(!TxStats.excludes(m2.stats.values.head, schema2,
      EqualTo("x", java.lang.Double.valueOf(exact))))
    // ...and the scan finds the row by its exact promoted value
    assert(TxTable.read(spark, tbl).filter(col("x") === lit(exact))
      .count() == 1L)
    // the naive double 0.1 matches NO row post-widen (no row holds it);
    // excluding the file on it is correct and still works
    assert(TxStats.excludes(m2.stats.values.head, schema2,
      EqualTo("x", java.lang.Double.valueOf(0.1))))
  }

  test("refusals: narrowing, non-lattice changes, partition and missing columns") {
    import spark.implicits._
    val tbl = tmp()
    TxTable.commit(Seq((1L, 1.5, "en", 3)).toDF("id", "d", "lang", "n"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    intercept[IllegalArgumentException]( // narrowing
      TxTable.widenColumn(spark, tbl, "id", IntegerType))
    intercept[IllegalArgumentException]( // double is already widest
      TxTable.widenColumn(spark, tbl, "d", LongType))
    intercept[IllegalArgumentException]( // int->string is not widening
      TxTable.widenColumn(spark, tbl, "n", StringType))
    intercept[IllegalArgumentException]( // partition column
      TxTable.widenColumn(spark, tbl, "lang", StringType))
    intercept[IllegalArgumentException]( // missing
      TxTable.widenColumn(spark, tbl, "nope", LongType))
    // nothing committed by any refusal
    assert(TxTable.latestVersion(tbl).contains(1L))
  }

  test("SQL: ALTER TABLE ... ALTER COLUMN TYPE widens through the catalog") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txwiden-cat-").toString
    TxCatalog.register(spark, "txw", wh)
    TxTable.commit(Seq((7, "a")).toDF("n", "s"), s"$wh/t", "overwrite")
    spark.sql("ALTER TABLE txw.t ALTER COLUMN n TYPE BIGINT")
    val m = TxTable.readManifest(Paths.get(s"$wh/t"), 2L)
    assert(m.op == "widen")
    val served = spark.sql("SELECT n FROM txw.t")
    assert(served.schema("n").dataType == LongType)
    assert(served.collect().map(_.getLong(0)).toSeq == Seq(7L))
    // a NARROWING through SQL refuses loudly (Spark's own analyzer
    // gates ALTER COLUMN TYPE on Cast.canUpCast before the catalog
    // even sees it), nothing commits
    val e = intercept[Exception](spark.sql(
      "ALTER TABLE txw.t ALTER COLUMN n TYPE INT"))
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN"))
    // a transition Spark's upcast rule allows but the engine's lossless
    // lattice does not (long->double loses precision above 2^53) also
    // refuses, in the catalog
    val e2 = intercept[Exception](spark.sql(
      "ALTER TABLE txw.t ALTER COLUMN n TYPE DOUBLE"))
    assert(e2.getMessage.contains("cannot change column"))
    assert(TxTable.latestVersion(s"$wh/t").contains(2L))
  }

  test("batch CDF across a widen: the widen version emits no rows, feed serves wide") {
    import spark.implicits._
    val tbl = tmp()
    TxTable.commit(Seq((1, "a")).toDF("n", "s"), tbl, "overwrite")
    TxTable.widenColumn(spark, tbl, "n", LongType): Unit
    TxTable.commit(Seq((5000000000L, "b")).toDF("n", "s"), tbl, "append")
    val feed = graft.sources.TxChanges.between(spark, tbl, 0L, 3L)
    assert(feed.schema("n").dataType == LongType)
    val rows = feed.orderBy("n")
      .select("n", "_change_type").collect()
    assert(rows.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "insert"), (5000000000L, "insert")))
  }
}
