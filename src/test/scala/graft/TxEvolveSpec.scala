package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}

import graft.sources.{TxCatalog, TxTable}

/** Metadata-only schema evolution (ALTER TABLE ADD/DROP COLUMN →
  * TxTable.evolveColumns): one `evolve` manifest version, no data
  * moves — old files read NULL for added columns, dropped columns
  * stop projecting (time travel keeps them), stats/blooms scrub, the
  * partition-cols-last invariant survives so appends keep working,
  * and every dishonest request refuses loudly. */
class TxEvolveSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("txevolve-spec-").toString + "/tbl"

  private def schemaOf(tbl: String, v: Long): Seq[String] =
    DataType.fromJson(TxTable.readManifest(Paths.get(tbl), v).schemaJson)
      .asInstanceOf[StructType].fieldNames.toSeq

  test("ADD fills NULL on old files; DROP stops projecting; one version each") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), tbl,
      "overwrite", bloomColumns = Seq("s"))
    val v2 = TxTable.evolveColumns(spark, tbl,
      add = Seq(StructField("score", LongType)))
    assert(v2 == 2L)
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m2.op == "evolve" && schemaOf(tbl, 2L) == Seq("id", "s", "score"))
    // the file set is untouched — nothing rewrote
    assert(m2.files == TxTable.readManifest(Paths.get(tbl), 1L).files)
    // old rows read NULL for the added column
    val rows = TxTable.readVersion(spark, tbl, 2L)
      .orderBy("id").collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(1L, 2L))
    assert(rows.forall(_.isNullAt(2)))
    // a new append carries real values; the old file still reads NULL
    TxTable.commit(Seq((3L, "c", Some(9L))).toDF("id", "s", "score"),
      tbl, "append")
    val all = TxTable.readVersion(spark, tbl, 3L).orderBy("id").collect()
    assert(all.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq ==
      Seq(-1L, -1L, 9L))
    // DROP the original string column: projection gone, stats/blooms
    // scrubbed, bytes still in the files (time travel proves it)
    val v4 = TxTable.evolveColumns(spark, tbl, drop = Seq("s"))
    assert(v4 == 4L && schemaOf(tbl, 4L) == Seq("id", "score"))
    val m4 = TxTable.readManifest(Paths.get(tbl), 4L)
    assert(m4.stats.values.forall(!_.contains("s")))
    assert(m4.blooms.values.forall(!_.contains("s")))
    assert(TxTable.readVersion(spark, tbl, 4L).columns.toSeq ==
      Seq("id", "score"))
    assert(TxTable.readVersion(spark, tbl, 3L).columns.toSeq ==
      Seq("id", "s", "score"))
  }

  test("SQL ALTER TABLE ADD/DROP COLUMN drives the same engine") {
    val wh = Files.createTempDirectory("txevolve-sql-").toString
    TxCatalog.register(spark, "txev", wh)
    spark.sql("CREATE TABLE txev.db.t (id BIGINT, s STRING)")
    spark.sql("INSERT INTO txev.db.t VALUES (1, 'a'), (2, 'b')")
    spark.sql("ALTER TABLE txev.db.t ADD COLUMNS (score BIGINT)")
    // old rows read NULL; the catalog serves the evolved schema
    assert(spark.table("txev.db.t").columns.toSeq ==
      Seq("id", "s", "score"))
    assert(spark.sql("SELECT count(*) FROM txev.db.t WHERE score IS NULL")
      .head().getLong(0) == 2L)
    spark.sql("INSERT INTO txev.db.t VALUES (3, 'c', 9)")
    assert(spark.sql("SELECT id FROM txev.db.t WHERE score = 9")
      .head().getLong(0) == 3L)
    spark.sql("ALTER TABLE txev.db.t DROP COLUMN s")
    assert(spark.table("txev.db.t").columns.toSeq == Seq("id", "score"))
    // time travel still serves the pre-evolution shape
    assert(spark.sql("SELECT * FROM txev.db.t VERSION AS OF 2")
      .columns.toSeq == Seq("id", "s"))
    // the CDF auto-skips evolve versions and serves the append
    val base = Files.createTempDirectory("txevolve-cdf-").toString
    val q = spark.readStream.format("graft-txcdf")
      .option("path", s"$wh/db/t").load()
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == 3L)
  }

  test("partitioned tables: added columns slot before partition cols; appends keep working") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, "en", 5L), (2L, "de", 7L))
      .toDF("id", "lang", "n"), tbl, "overwrite",
      partitionBy = Some(Seq("lang")))
    TxTable.evolveColumns(spark, tbl,
      add = Seq(StructField("extra", StringType)))
    // partition column stays LAST (the hive invariant appends rely on)
    assert(schemaOf(tbl, 2L) == Seq("id", "n", "extra", "lang"))
    TxTable.commit(Seq((3L, 9L, Some("x"), "fr"))
      .toDF("id", "n", "extra", "lang"), tbl, "append")
    val rows = TxTable.readVersion(spark, tbl, 3L).orderBy("id").collect()
    assert(rows.map(r => Option(r.getString(2))).toSeq ==
      Seq(None, None, Some("x")))
    assert(rows.map(_.getString(3)).toSeq == Seq("en", "de", "fr"))
  }

  test("refusals: the requests a by-name layout cannot honor honestly") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, "en", 5L)).toDF("id", "lang", "n"), tbl,
      "overwrite", partitionBy = Some(Seq("lang")),
      constraints = Map("n_pos" -> "n > 0"))
    // non-nullable add: old rows can only hold NULL
    assert(intercept[IllegalArgumentException](TxTable.evolveColumns(
      spark, tbl, add = Seq(StructField("x", LongType, nullable = false))))
      .getMessage.contains("nullable"))
    // existing / missing names
    intercept[IllegalArgumentException](TxTable.evolveColumns(
      spark, tbl, add = Seq(StructField("id", LongType))))
    intercept[IllegalArgumentException](TxTable.evolveColumns(
      spark, tbl, drop = Seq("nope")))
    // partition column drops are a relayout, not an evolution
    assert(intercept[IllegalArgumentException](TxTable.evolveColumns(
      spark, tbl, drop = Seq("lang")))
      .getMessage.contains("partition column"))
    // a drop that breaks a registered CHECK promise refuses
    assert(intercept[IllegalArgumentException](TxTable.evolveColumns(
      spark, tbl, drop = Seq("n")))
      .getMessage.contains("n_pos"))
    // add+drop the same name in one statement is ambiguous
    intercept[IllegalArgumentException](TxTable.evolveColumns(spark, tbl,
      add = Seq(StructField("q", LongType)), drop = Seq("q")))
    // nothing landed: still v1
    assert(TxTable.latestVersion(tbl) == Some(1L))
    // the SQL surface refuses positions, defaults, and type changes
    // (RENAME COLUMN is a supported arm now — TxRenameSpec)
    val wh = Files.createTempDirectory("txevolve-ref-").toString
    TxCatalog.register(spark, "txrf", wh)
    spark.sql("CREATE TABLE txrf.db.t (id BIGINT, s STRING)")
    spark.sql("INSERT INTO txrf.db.t VALUES (1, 'a')")
    assert(intercept[Exception](spark.sql(
      "ALTER TABLE txrf.db.t ADD COLUMNS (x STRING AFTER id)"))
      .getMessage.contains("FIRST/AFTER"))
    intercept[Exception](spark.sql(
      "ALTER TABLE txrf.db.t ALTER COLUMN s COMMENT 'nope'"))
    intercept[Exception](spark.sql(
      "ALTER TABLE txrf.db.t ALTER COLUMN id TYPE STRING"))
  }
}
