package graft

import java.nio.file.{Files, Paths}

import graft.sources.{TxCatalog, TxTable}
import org.apache.spark.sql.functions._

/** ALTER TABLE RENAME COLUMN through the column mapping
  * (TxTable.Manifest.columnMapping): a rename is ONE metadata version —
  * files keep their physical bytes, stats/blooms keep their physical
  * keys (skipping survives), historical versions time-travel under
  * their own names, and appends stage under the ORIGINAL physical
  * name so every file of the table agrees. */
class TxRenameSpec extends SparkSpec {

  private def tmp(): String =
    Files.createTempDirectory("txrename-").toString + "/tbl"

  private def frame(rows: (Long, String, Long)*) = {
    import spark.implicits._
    rows.toDF("id", "lang", "n")
  }

  test("rename is metadata-only: one version, bytes untouched, time travel keeps old names") {
    val tbl = tmp()
    TxTable.commit(frame((1L, "en", 5L), (2L, "de", 7L)), tbl, "overwrite")
    val filesBefore = TxTable.readManifest(Paths.get(tbl), 1L).files
    val v = TxTable.renameColumn(spark, tbl, "n", "chars")
    assert(v == 2L)
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m2.op == "rename")
    assert(m2.files == filesBefore) // zero data movement
    assert(m2.columnMapping == Map("chars" -> "n"))
    // the new logical name reads; values identical
    assert(TxTable.read(spark, tbl).schema.fieldNames.toSeq ==
      Seq("id", "lang", "chars"))
    assert(TxTable.read(spark, tbl).orderBy("id").select("chars")
      .collect().map(_.getLong(0)).toSeq == Seq(5L, 7L))
    // time travel: v1 still answers under the OLD name
    assert(TxTable.readVersion(spark, tbl, 1L).schema.fieldNames.toSeq ==
      Seq("id", "lang", "n"))
    // stats kept their physical keys
    assert(m2.stats.values.forall(_.contains("n")))
  }

  test("appends after a rename stage under the ORIGINAL physical name") {
    import spark.implicits._
    val tbl = tmp()
    TxTable.commit(frame((1L, "en", 5L)), tbl, "overwrite")
    TxTable.renameColumn(spark, tbl, "n", "chars"): Unit
    // the appending frame uses the LOGICAL name
    TxTable.commit(Seq((2L, "fr", 9L)).toDF("id", "lang", "chars"),
      tbl, "append")
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    // every file's stats key the PHYSICAL name — including the new one
    assert(m3.stats.size == 2 && m3.stats.values.forall(_.contains("n")))
    assert(TxTable.read(spark, tbl).orderBy("id")
      .select("chars").collect().map(_.getLong(0)).toSeq == Seq(5L, 9L))
    // and the new file's BYTES spell the physical name
    val newFile = m3.files.toSet.diff(
      TxTable.readManifest(Paths.get(tbl), 1L).files.toSet).head
    val footer = spark.read.parquet(s"$tbl/$newFile")
    assert(footer.schema.fieldNames.toSeq == Seq("id", "lang", "n"))
    // a plain append under the OLD logical name refuses (schema check)
    intercept[IllegalArgumentException](
      TxTable.commit(Seq((3L, "es", 1L)).toDF("id", "lang", "n"),
        tbl, "append"))
  }

  test("file skipping on a renamed column survives (kept-path count pinned)") {
    import org.apache.spark.sql.sources.EqualTo
    val tbl = tmp()
    // one lang per commit => per-file min=max lang stats
    TxTable.commit(frame((1L, "en", 5L)), tbl, "overwrite")
    TxTable.commit(frame((2L, "de", 7L)), tbl, "append")
    TxTable.commit(frame((3L, "fr", 9L)), tbl, "append")
    TxTable.renameColumn(spark, tbl, "lang", "language"): Unit
    val m = TxTable.readManifest(Paths.get(tbl), 4L)
    // a DELETE on the RENAMED column must rewrite only the one file
    // whose (physical-keyed) stats admit a match — the en and fr files
    // carry forward VERBATIM, proving the skip survived the rename
    val v = TxTable.deleteWhere(spark, tbl,
      Seq(EqualTo("language", "de")))
    assert(v == 5L)
    assert(TxTable.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val m5 = TxTable.readManifest(Paths.get(tbl), 5L)
    val kept = m.files.filter(m5.files.contains)
    assert(kept.size == 2,
      s"exactly the en and fr files must carry verbatim, kept=$kept")
    // the carried files are precisely those whose physical 'lang' stat
    // excludes 'de'
    assert(kept.forall(f => m.stats(f)("lang").min != "de"))
  }

  test("refusals: missing, duplicate target, partition column, constraint-bound, same name") {
    val tbl = tmp()
    TxTable.commit(frame((1L, "en", 5L)), tbl, "overwrite",
      constraints = Map("n_pos" -> "n > 0"))
    intercept[IllegalArgumentException](
      TxTable.renameColumn(spark, tbl, "ghost", "x"))
    intercept[IllegalArgumentException](
      TxTable.renameColumn(spark, tbl, "id", "LANG")) // case-insensitive
    intercept[IllegalArgumentException](
      TxTable.renameColumn(spark, tbl, "id", "id"))
    val ec = intercept[IllegalArgumentException](
      TxTable.renameColumn(spark, tbl, "n", "chars"))
    assert(ec.getMessage.contains("constraint"), ec.getMessage)
    // partition column
    val tbl2 = tmp()
    TxTable.commit(frame((1L, "en", 5L)), tbl2, "overwrite",
      partitionBy = Some(Seq("lang")))
    val ep = intercept[IllegalArgumentException](
      TxTable.renameColumn(spark, tbl2, "lang", "language"))
    assert(ep.getMessage.contains("partition"), ep.getMessage)
    // nothing committed by any refusal
    assert(TxTable.latestVersion(tbl).contains(1L))
    assert(TxTable.latestVersion(tbl2).contains(1L))
  }

  test("rename back to the original collapses the mapping to identity") {
    val tbl = tmp()
    TxTable.commit(frame((1L, "en", 5L)), tbl, "overwrite")
    TxTable.renameColumn(spark, tbl, "n", "chars"): Unit
    TxTable.renameColumn(spark, tbl, "chars", "size"): Unit
    assert(TxTable.readManifest(Paths.get(tbl), 3L).columnMapping ==
      Map("size" -> "n")) // still the ORIGINAL physical name
    TxTable.renameColumn(spark, tbl, "size", "n"): Unit
    assert(TxTable.readManifest(Paths.get(tbl), 4L)
      .columnMapping.isEmpty)
    assert(TxTable.read(spark, tbl).schema.fieldNames.toSeq ==
      Seq("id", "lang", "n"))
  }

  test("SQL: ALTER TABLE RENAME COLUMN; reads, predicates, UPDATE, MoR DELETE, compaction") {
    val wh = Files.createTempDirectory("txrename-sql-").toString
    TxCatalog.register(spark, "txrn", wh)
    spark.sql("CREATE TABLE txrn.db.t (id BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('tx.deletionVectors' = 'true')")
    spark.sql("INSERT INTO txrn.db.t SELECT id, id * 10 FROM range(1, 6)")
    spark.sql("ALTER TABLE txrn.db.t RENAME COLUMN n TO amount")
    assert(spark.table("txrn.db.t").schema.fieldNames.toSeq ==
      Seq("id", "amount"))
    // SELECT with a predicate on the renamed column: correct values,
    // and the translated filter reaches the delegated parquet scan
    val q = spark.sql("SELECT id, amount FROM txrn.db.t WHERE amount >= 30")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      .toSeq == Seq((3L, 30L), (4L, 40L), (5L, 50L)))
    assert(q.queryExecution.executedPlan.toString.contains("PushedFilters"),
      "filters must still reach the parquet scan")
    // UPDATE through the renamed name (MoR: tombstone + copies)
    spark.sql("UPDATE txrn.db.t SET amount = 0 WHERE id = 1")
    // MoR DELETE through the renamed name
    spark.sql("DELETE FROM txrn.db.t WHERE amount = 50")
    assert(spark.sql("SELECT sum(amount), count(*) FROM txrn.db.t")
      .head().toSeq == Seq(0L + 20L + 30L + 40L, 4L))
    // purge + compact fold and rewrite under physical names
    val dir = s"$wh/db/t"
    TxTable.purgeDeletes(spark, dir): Unit
    TxTable.compact(spark, dir, targetBytes = 1L << 30): Unit
    assert(spark.sql("SELECT sum(amount) FROM txrn.db.t").head()
      .getLong(0) == 90L)
    // INSERT after rename uses the logical name; physical stays 'n'
    spark.sql("INSERT INTO txrn.db.t VALUES (9, 900)")
    assert(spark.sql("SELECT amount FROM txrn.db.t WHERE id = 9")
      .head().getLong(0) == 900L)
    val head = TxTable.latestVersion(dir).get
    assert(TxTable.readManifest(Paths.get(dir), head)
      .columnMapping == Map("amount" -> "n"))
    // ONE statement carrying TWO change kinds refuses atomically (each
    // kind is its own manifest version; a mix could half-apply)
    val before = TxTable.latestVersion(dir).get
    val em = intercept[Exception](spark.sql(
      "ALTER TABLE txrn.db.t SET TBLPROPERTIES " +
        "('check.pos' = 'amount >= 0', 'tx.deletionVectors' = 'false')"))
    assert(em.getMessage.contains("ONE kind"), em.getMessage)
    assert(TxTable.latestVersion(dir).contains(before), "nothing applied")
  }

  test("aggregate pushdown declines on a renamed column but COUNT(*) still pushes") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txrename-agg-").toString
    TxCatalog.register(spark, "txra", wh)
    TxTable.commit(Seq((1L, 10L), (2L, 20L)).toDF("id", "n"),
      s"$wh/db/t", "overwrite")
    TxTable.renameColumn(spark, s"$wh/db/t", "n", "amount"): Unit
    val c = spark.sql("SELECT count(*) FROM txra.db.t")
    assert(c.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [COUNT"))
    assert(c.head().getLong(0) == 2L)
    // min over the renamed column: declined, not wrong
    val m = spark.sql("SELECT min(amount) FROM txra.db.t")
    assert(!m.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [MIN"))
    assert(m.head().getLong(0) == 10L)
    // min over a never-renamed column still pushes
    val i = spark.sql("SELECT count(*), min(id) FROM txra.db.t")
    assert(i.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [COUNT"))
    assert(i.head().getLong(1) == 1L)
  }
}
