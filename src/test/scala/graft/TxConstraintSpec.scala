package graft

import java.nio.file.{Files, Paths}

import graft.sources.{TxCatalog, TxTable}

/** CHECK constraints on the tx table: the commit-time data-quality
  * gate — SQL-standard semantics (FALSE violates, NULL passes), loud
  * refusal with no version and no staged debris, the carried-forward
  * table-property contract, enforcement on row-level rewrites, and the
  * ADD CONSTRAINT existing-data validation. */
class TxConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("txcheck-spec-").toString + "/tbl"

  test("a violated commit refuses loudly, commits no version, leaves no files") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, 5L)).toDF("id", "n"), tbl, "overwrite",
      constraints = Map("n_positive" -> "n > 0"))
    assert(TxTable.readManifest(Paths.get(tbl), 1L).constraints ==
      Map("n_positive" -> "n > 0"))
    val e = intercept[IllegalArgumentException](
      TxTable.commit(Seq((2L, -3L)).toDF("id", "n"), tbl, "append"))
    assert(e.getMessage.contains("n_positive") &&
      e.getMessage.contains("violated"))
    assert(TxTable.latestVersion(tbl) == Some(1L))
    // no staged debris: the only data dir is v1's
    val dataDirs = Files.list(Paths.get(tbl).resolve("data")).count()
    assert(dataDirs == 1L)
  }

  test("constraints carry forward and inherit; NULL passes (SQL standard)") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, Some(5L))).toDF("id", "n"), tbl, "overwrite",
      constraints = Map("n_positive" -> "n > 0"))
    // a plain append inherits and enforces
    intercept[IllegalArgumentException](
      TxTable.commit(Seq((2L, Some(0L))).toDF("id", "n"), tbl, "append"))
    // NULL is not a violation
    TxTable.commit(Seq((3L, Option.empty[Long])).toDF("id", "n"),
      tbl, "append")
    assert(TxTable.readManifest(Paths.get(tbl), 2L).constraints
      .contains("n_positive"))
    // a later commit can ADD a second constraint; both enforce
    TxTable.commit(Seq((4L, Some(7L))).toDF("id", "n"), tbl, "append",
      constraints = Map("id_bound" -> "id < 100"))
    val e = intercept[IllegalArgumentException](
      TxTable.commit(Seq((200L, Some(1L))).toDF("id", "n"), tbl, "append"))
    assert(e.getMessage.contains("id_bound"))
  }

  test("row-level rewrites cannot introduce violations") {
    val wh = Files.createTempDirectory("txcheck-sql-").toString
    TxCatalog.register(spark, "txck", wh)
    spark.sql("CREATE TABLE txck.db.t (id BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('check.n_positive' = 'n > 0')")
    spark.sql("INSERT INTO txck.db.t VALUES (1, 5), (2, 7)")
    // the registered promises are introspectable
    assert(spark.sql("SELECT name, expr FROM txck.db.`t$constraints`")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("n_positive", "n > 0")))
    // the SQL INSERT path enforces too
    val ei = intercept[Exception](
      spark.sql("INSERT INTO txck.db.t VALUES (3, -1)"))
    assert(ei.getMessage.contains("n_positive"))
    // an UPDATE that would break the promise refuses; the table stands
    val eu = intercept[Exception](
      spark.sql("UPDATE txck.db.t SET n = n - 10 WHERE id = 1"))
    assert(eu.getMessage.contains("n_positive"))
    assert(spark.sql("SELECT sum(n) FROM txck.db.t").head().getLong(0)
      == 12L)
    // a compliant UPDATE goes through
    spark.sql("UPDATE txck.db.t SET n = n + 10 WHERE id = 1")
    assert(spark.sql("SELECT sum(n) FROM txck.db.t").head().getLong(0)
      == 22L)
  }

  test("addConstraint validates existing data and registers as a version") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, 5L), (2L, -1L)).toDF("id", "n"), tbl,
      "overwrite")
    // existing data violates: refuse, nothing registered
    val e = intercept[IllegalArgumentException](
      TxTable.addConstraint(spark, tbl, "n_positive", "n > 0"))
    assert(e.getMessage.contains("EXISTING"))
    assert(TxTable.latestVersion(tbl) == Some(1L))
    // clean the data, then the registration lands as op 'constraint'
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.LessThanOrEqual("n", 0L)))
    val v = TxTable.addConstraint(spark, tbl, "n_positive", "n > 0")
    assert(TxTable.readManifest(Paths.get(tbl), v).op == "constraint")
    intercept[IllegalArgumentException](
      TxTable.commit(Seq((9L, -9L)).toDF("id", "n"), tbl, "append"))
    // duplicate names refuse
    assert(intercept[IllegalArgumentException](
      TxTable.addConstraint(spark, tbl, "n_positive", "n > 1"))
      .getMessage.contains("already exists"))
    // dropping withdraws the promise; unknown names refuse loudly
    TxTable.dropConstraint(tbl, "n_positive")
    TxTable.commit(Seq((9L, -9L)).toDF("id", "n"), tbl, "append")
    assert(intercept[IllegalArgumentException](
      TxTable.dropConstraint(tbl, "nope"))
      .getMessage.contains("no constraint named"))
  }

  test("SQL ALTER TABLE SET/UNSET TBLPROPERTIES drives check.* constraints") {
    val wh = Files.createTempDirectory("txcheck-alter-").toString
    TxCatalog.register(spark, "txal", wh)
    spark.sql("CREATE TABLE txal.db.t (id BIGINT, n BIGINT)")
    spark.sql("INSERT INTO txal.db.t VALUES (1, 5), (2, 7)")
    // SET registers (validating existing data) and then enforces
    spark.sql(
      "ALTER TABLE txal.db.t SET TBLPROPERTIES ('check.n_pos' = 'n > 0')")
    assert(spark.sql("SELECT name FROM txal.db.`t$constraints`")
      .collect().map(_.getString(0)).toSeq == Seq("n_pos"))
    val ei = intercept[Exception](
      spark.sql("INSERT INTO txal.db.t VALUES (3, -1)"))
    assert(ei.getMessage.contains("n_pos"))
    // a SET the existing snapshot violates refuses; nothing registers
    val ev = intercept[Exception](spark.sql(
      "ALTER TABLE txal.db.t SET TBLPROPERTIES ('check.id_neg' = 'id < 0')"))
    assert(ev.getMessage.contains("EXISTING"))
    // multi-property atomicity: one bad promise sinks the statement,
    // including its valid siblings — no half-applied ALTER
    intercept[Exception](spark.sql("ALTER TABLE txal.db.t SET " +
      "TBLPROPERTIES ('check.id_pos' = 'id > 0', 'check.id_neg' = 'id < 0')"))
    assert(spark.sql("SELECT name FROM txal.db.`t$constraints`")
      .collect().map(_.getString(0)).toSeq == Seq("n_pos"))
    // UNSET withdraws the promise as one metadata version
    spark.sql("ALTER TABLE txal.db.t UNSET TBLPROPERTIES ('check.n_pos')")
    assert(spark.sql("SELECT count(*) FROM txal.db.`t$constraints`")
      .head().getLong(0) == 0L)
    spark.sql("INSERT INTO txal.db.t VALUES (3, -1)")
    // non-constraint properties and schema changes are loudly rejected
    val ep = intercept[Exception](spark.sql(
      "ALTER TABLE txal.db.t SET TBLPROPERTIES ('retention' = '7d')"))
    assert(ep.getMessage.contains("check.<name>"))
    // (ADD/DROP/RENAME COLUMN are supported arms now — TxEvolveSpec /
    // TxRenameSpec — so the unsupported-change probe is a comment edit)
    val ec = intercept[Exception](spark.sql(
      "ALTER TABLE txal.db.t ALTER COLUMN n COMMENT 'docs'"))
    assert(ec.getMessage.contains("check.<name>"))
  }

  test("alterConstraints is all-or-nothing and refuses add+drop collisions") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, 5L)).toDF("id", "n"), tbl, "overwrite",
      constraints = Map("n_pos" -> "n > 0"))
    // one version swaps a promise for two new ones
    val v = TxTable.alterConstraints(spark, tbl,
      Map("id_pos" -> "id > 0", "n_cap" -> "n < 100"), Set("n_pos"))
    assert(v == 2L)
    assert(TxTable.readManifest(Paths.get(tbl), v).constraints.keySet ==
      Set("id_pos", "n_cap"))
    // a drop of a missing name sinks the whole statement: the valid
    // add beside it must not land
    intercept[IllegalArgumentException](TxTable.alterConstraints(spark,
      tbl, Map("extra" -> "n > -5"), Set("nope")))
    assert(TxTable.readManifest(Paths.get(tbl),
      TxTable.latestVersion(tbl).get).constraints.keySet ==
      Set("id_pos", "n_cap"))
    // adding and dropping the same name in one statement is ambiguous
    assert(intercept[IllegalArgumentException](TxTable.alterConstraints(
      spark, tbl, Map("id_pos" -> "id > 1"), Set("id_pos")))
      .getMessage.contains("add and drop"))
  }

  test("the CDF skips constraint registrations; maintenance carries them") {
    val base = Files.createTempDirectory("txcheck-cdf-").toString
    val tbl = s"$base/tbl"
    TxTable.commit(Seq((1L, 5L)).toDF("id", "n"), tbl, "overwrite")
    TxTable.addConstraint(spark, tbl, "n_positive", "n > 0") // v2
    TxTable.commit(Seq((2L, 6L)).toDF("id", "n"), tbl, "append") // v3
    val q = spark.readStream.format("graft-txcdf").option("path", tbl)
      .load()
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.read.parquet(s"$base/out")
      .select("_commit_version", "id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      Seq((1L, 1L), (3L, 2L)))
    // compaction keeps the constraint registered
    TxTable.compact(spark, tbl, 1L << 30)
    assert(TxTable.readManifest(Paths.get(tbl),
      TxTable.latestVersion(tbl).get).constraints.contains("n_positive"))
  }
}
