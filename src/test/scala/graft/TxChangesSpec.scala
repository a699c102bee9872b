package graft

import java.nio.file.Files

import graft.sources.{TxCatalog, TxChanges, TxTable}

/** Batch change-data-feed (`TxChanges.between`): exact per-version
  * change rows, cost bounded by changed files — inserts read directly,
  * merge-on-read versions serve removed rows from their own sidecars
  * (no table diff), copy-on-write versions except-all only the swapped
  * files, and byte-moving versions emit nothing. */
class TxChangesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString + "/tbl"

  private def feed(tbl: String, from: Long, to: Long): Seq[(Long, String, Long, Long)] =
    TxChanges.between(spark, tbl, from, to)
      .select(TxChanges.CommitVersionCol, TxChanges.ChangeTypeCol, "id", "n")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .toSeq.sorted

  test("appends are pure inserts; the full-history feed replays the table") {
    val tbl = tmp("txchg-ins-")
    TxTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "n"), tbl,
      "overwrite")
    TxTable.commit(Seq((3L, 30L)).toDF("id", "n"), tbl, "append")
    assert(feed(tbl, 0L, 2L) == Seq(
      (1L, "insert", 1L, 10L), (1L, "insert", 2L, 20L),
      (2L, "insert", 3L, 30L)))
    // a sub-range starts mid-history
    assert(feed(tbl, 1L, 2L) == Seq((2L, "insert", 3L, 30L)))
  }

  test("MoR delete/update/merge serve exact changes from their sidecars") {
    val wh = Files.createTempDirectory("txchg-cat-").toString
    TxCatalog.register(spark, "txchg", wh)
    spark.sql("CREATE TABLE txchg.db.t (id BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('tx.deletionVectors' = 'true')")
    spark.sql("INSERT INTO txchg.db.t SELECT id, id * 10 " +
      "FROM range(1, 7)") // v2: ids 1-6
    val tbl = s"$wh/db/t"
    // v3: MoR delete of ids 5, 6
    spark.sql("DELETE FROM txchg.db.t WHERE id > 4")
    assert(feed(tbl, 2L, 3L) == Seq(
      (3L, "delete", 5L, 50L), (3L, "delete", 6L, 60L)))
    // v4: MoR update of id 1 → pre/postimage pair
    spark.sql("UPDATE txchg.db.t SET n = 111 WHERE id = 1")
    assert(feed(tbl, 3L, 4L) == Seq(
      (4L, "update_postimage", 1L, 111L),
      (4L, "update_preimage", 1L, 10L)))
    // v5: MoR merge — id 2 updates, id 9 inserts, id 3 deletes
    Seq((2L, 222L), (3L, -1L), (9L, 90L)).toDF("sid", "sn")
      .createOrReplaceTempView("txchg_src")
    spark.sql(
      """MERGE INTO txchg.db.t t USING txchg_src s ON t.id = s.sid
        |WHEN MATCHED AND s.sn < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n = s.sn
        |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (s.sid, s.sn)
        |""".stripMargin)
    assert(feed(tbl, 4L, 5L) == Seq(
      (5L, "delete", 2L, 20L), (5L, "delete", 3L, 30L),
      (5L, "insert", 2L, 222L), (5L, "insert", 9L, 90L)))
    // the multi-version range is the concatenation, and the feed's
    // insert-delete algebra replays to exactly the head snapshot
    assert(feed(tbl, 1L, 5L).size == 6 + 2 + 2 + 4)
  }

  test("CoW delete/update except-all only the swapped files") {
    val tbl = tmp("txchg-cow-")
    TxTable.commit((1 to 6).map(i => (i.toLong, i * 10L)).toDF("id", "n"),
      tbl, "overwrite")
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 4L))) // v2 CoW
    assert(feed(tbl, 1L, 2L) == Seq((2L, "delete", 4L, 40L)))
    // overwrite: everything out, everything in
    TxTable.commit(Seq((7L, 70L)).toDF("id", "n"), tbl, "overwrite")
    val ov = feed(tbl, 2L, 3L)
    assert(ov.count(_._2 == "delete") == 5 &&
      ov.filter(_._2 == "insert") == Seq((3L, "insert", 7L, 70L)))
  }

  test("byte-moving versions emit nothing; restore resurrects rows") {
    val tbl = tmp("txchg-noop-")
    TxTable.commit((1 to 4).map(i => (i.toLong, i * 10L)).toDF("id", "n"),
      tbl, "overwrite",
      properties = Map(TxTable.DvProperty -> "true"))
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 2L))) // v2 MoR
    TxTable.purgeDeletes(spark, tbl) // v3: folds, rows unchanged
    TxTable.compact(spark, tbl, targetBytes = 1L << 20) // v4
    assert(feed(tbl, 2L, 4L).isEmpty)
    TxTable.restore(tbl, 1L) // v5: id 2 comes back
    assert(feed(tbl, 4L, 5L) == Seq((5L, "insert", 2L, 20L)))
  }

  test("a range spanning an evolve serves old versions in toV's schema") {
    val tbl = tmp("txchg-ev-")
    TxTable.commit(Seq((1L, 10L)).toDF("id", "n"), tbl, "overwrite")
    TxTable.evolveColumns(spark, tbl, Seq(
      org.apache.spark.sql.types.StructField("extra",
        org.apache.spark.sql.types.StringType)), Nil) // v2: metadata-only
    TxTable.commit(Seq((2L, 20L, "x")).toDF("id", "n", "extra"), tbl,
      "append") // v3
    val rows = TxChanges.between(spark, tbl, 0L, 3L)
      .select("id", "n", "extra", TxChanges.ChangeTypeCol,
        TxChanges.CommitVersionCol)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        Option(r.getString(2)), r.getString(3), r.getLong(4))).toSeq.sorted
    // v1's insert reads NULL for the later column; v2 emits nothing
    assert(rows == Seq(
      (1L, 10L, None, "insert", 1L),
      (2L, 20L, Some("x"), "insert", 3L)))
  }
}
