package graft

import java.nio.file.Files

import graft.sources.{TxCatalog, TxTable}

/** SQL `UPDATE` / `MERGE INTO` on the tx catalog (TxRowLevel): the
  * stats-pruned copy-on-write contract, the version-free no-op paths,
  * ANSI MERGE clause semantics (first-match-wins, cardinality refusal),
  * and the insert-only path that must rewrite NOTHING. */
class TxRowLevelSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("txrl-spec-").toString
    TxCatalog.register(spark, "txrl", wh)
    wh
  }

  /** One language per commit => per-file min=max=lang manifest stats,
    * the same pruning fixture the DELETE spec uses. */
  private def mkLangTable(name: String): String = {
    import spark.implicits._
    val tbl = s"$warehouse/db/$name"
    TxTable.commit(Seq((1L, "en", 5L), (2L, "en", 7L)).toDF("id", "lang", "n"),
      tbl, "overwrite")
    TxTable.commit(Seq((3L, "de", 9L)).toDF("id", "lang", "n"), tbl, "append")
    TxTable.commit(Seq((4L, "fr", 2L)).toDF("id", "lang", "n"), tbl, "append")
    tbl
  }

  private def rows(sql: String): Seq[(Long, String, Long)] =
    spark.sql(sql).collect().toSeq
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) null else r.getString(1), r.getLong(2)))

  test("UPDATE is a stats-pruned copy-on-write commit") {
    val tbl = mkLangTable("upd")
    val before = TxTable.readManifest(java.nio.file.Paths.get(tbl), 3L)

    // 1. an update whose predicate provably touches NO file is a pure
    //    no-op: no new version, no rewrite
    spark.sql("UPDATE txrl.db.upd SET n = 0 WHERE lang = 'zz'")
    assert(TxTable.latestVersion(tbl) == Some(3L))

    // 2. the real update rewrites ONLY the de files: every en/fr file
    //    carries forward under its original name, stats intact
    spark.sql("UPDATE txrl.db.upd SET n = n + 100 WHERE lang = 'de'")
    assert(TxTable.latestVersion(tbl) == Some(4L))
    val after = TxTable.readManifest(java.nio.file.Paths.get(tbl), 4L)
    assert(after.op == "update")
    val enFrFiles = before.files.filter { f =>
      val st = before.stats(f)("lang"); st.min != "de"
    }
    assert(enFrFiles.nonEmpty && enFrFiles.forall(after.files.contains),
      "untouched files must carry forward verbatim")
    assert(enFrFiles.forall(after.stats.contains))
    assert(rows("SELECT id, lang, n FROM txrl.db.upd ORDER BY id") ==
      Seq((1L, "en", 5L), (2L, "en", 7L), (3L, "de", 109L), (4L, "fr", 2L)))

    // 3. the pre-update snapshot stays time-travelable
    assert(rows(
      "SELECT id, lang, n FROM txrl.db.upd VERSION AS OF 3 ORDER BY id")
      .map(_._3) == Seq(5L, 7L, 9L, 2L))

    // 4. ANSI NULL semantics: rows where the condition is NULL keep
    //    their old value (the file DOES rewrite — NULL can't prune —
    //    but the per-row CASE keeps the row unchanged)
    import spark.implicits._
    TxTable.commit(Seq((5L, Option.empty[String], 1L))
      .toDF("id", "lang", "n"), tbl, "append")
    spark.sql("UPDATE txrl.db.upd SET n = n * 10 WHERE lang = 'fr'")
    assert(rows("SELECT id, lang, n FROM txrl.db.upd ORDER BY id") ==
      Seq((1L, "en", 5L), (2L, "en", 7L), (3L, "de", 109L),
        (4L, "fr", 20L), (5L, null, 1L)))

    // 5. unconditional UPDATE rewrites every row as one more version;
    //    history intact behind it
    spark.sql("UPDATE txrl.db.upd SET n = 0")
    assert(spark.sql("SELECT sum(n) FROM txrl.db.upd").head().getLong(0) == 0L)
    assert(spark.sql(
        "SELECT sum(n) FROM txrl.db.upd VERSION AS OF 3")
      .head().getLong(0) == 23L)
  }

  test("UPDATE refuses subqueries loudly") {
    mkLangTable("updsub")
    val e = intercept[Exception](spark.sql(
      "UPDATE txrl.db.updsub SET n = 0 WHERE id IN " +
        "(SELECT id FROM txrl.db.updsub WHERE lang = 'de')"))
    assert(e.getMessage.contains("subquer"))
  }

  test("MERGE runs matched UPDATE/DELETE + NOT MATCHED INSERT with first-match-wins") {
    import spark.implicits._
    val tbl = mkLangTable("mrg")
    val before = TxTable.readManifest(java.nio.file.Paths.get(tbl), 3L)
    // source: id 3 (de, matched), id 4 (fr, matched), id 9 (new)
    Seq((3L, "de2", 100L), (4L, "fr2", 1L), (9L, "es", 50L))
      .toDF("id", "lang", "n").createOrReplaceTempView("mrg_src")
    spark.sql(
      """MERGE INTO txrl.db.mrg t USING mrg_src s ON t.id = s.id
        |WHEN MATCHED AND s.n > 50 THEN DELETE
        |WHEN MATCHED AND s.n > 0 THEN UPDATE SET n = s.n, lang = s.lang
        |WHEN MATCHED THEN UPDATE SET n = -1
        |WHEN NOT MATCHED THEN INSERT (id, lang, n) VALUES (s.id, s.lang, s.n)
        |""".stripMargin)
    assert(TxTable.latestVersion(tbl) == Some(4L))
    // id 3: first clause (n>50) wins => deleted, never reaches clause 2;
    // id 4: clause 2 => updated; ids 1,2 untouched; id 9 inserted
    assert(rows("SELECT id, lang, n FROM txrl.db.mrg ORDER BY id") ==
      Seq((1L, "en", 5L), (2L, "en", 7L), (4L, "fr2", 1L), (9L, "es", 50L)))
    // candidate pruning: the source ids bound [3, 9], so the en file
    // (ids 1-2, max id 2) provably holds no match — carried verbatim
    val after = TxTable.readManifest(java.nio.file.Paths.get(tbl), 4L)
    val enFile = before.files.find(f => before.stats(f)("lang").min == "en")
    assert(enFile.nonEmpty && after.files.contains(enFile.get),
      "the id-range-excluded file must carry forward verbatim")
  }

  test("MERGE refuses a target row matched by multiple source rows") {
    import spark.implicits._
    mkLangTable("mrgdup")
    Seq((3L, "a", 1L), (3L, "b", 2L))
      .toDF("id", "lang", "n").createOrReplaceTempView("mrgdup_src")
    val e = intercept[Exception](spark.sql(
      """MERGE INTO txrl.db.mrgdup t USING mrgdup_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin))
    assert(e.getMessage.contains("multiple"))
    // the refusal must not have committed anything
    assert(TxTable.latestVersion(s"$warehouse/db/mrgdup") == Some(3L))
  }

  test("insert-only MERGE rewrites nothing and inserts only unmatched rows") {
    import spark.implicits._
    val tbl = mkLangTable("mrgins")
    val before = TxTable.readManifest(java.nio.file.Paths.get(tbl), 3L)
    // ids 3,4 match (must NOT insert and must NOT duplicate the
    // matched target rows); ids 7,8 are new
    Seq((3L, "x", 0L), (4L, "x", 0L), (7L, "nw", 70L), (8L, "nw", 80L))
      .toDF("id", "lang", "n").createOrReplaceTempView("mrgins_src")
    spark.sql(
      """MERGE INTO txrl.db.mrgins t USING mrgins_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, lang, n) VALUES (s.id, s.lang, s.n)
        |""".stripMargin)
    assert(TxTable.latestVersion(tbl) == Some(4L))
    val after = TxTable.readManifest(java.nio.file.Paths.get(tbl), 4L)
    assert(before.files.forall(after.files.contains),
      "insert-only MERGE must carry every old file forward verbatim")
    // every target row exactly once, plus exactly the two new rows
    assert(rows("SELECT id, lang, n FROM txrl.db.mrgins ORDER BY id") ==
      Seq((1L, "en", 5L), (2L, "en", 7L), (3L, "de", 9L), (4L, "fr", 2L),
        (7L, "nw", 70L), (8L, "nw", 80L)))

    // a fully-matched source is a version-free no-op
    Seq((1L, "x", 0L)).toDF("id", "lang", "n")
      .createOrReplaceTempView("mrgins_src2")
    spark.sql(
      """MERGE INTO txrl.db.mrgins t USING mrgins_src2 s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, lang, n) VALUES (s.id, s.lang, s.n)
        |""".stripMargin)
    assert(TxTable.latestVersion(tbl) == Some(4L))
  }

  test("NOT MATCHED BY SOURCE deletes/updates with matched rows deduped") {
    import spark.implicits._
    val tbl = mkLangTable("mrgsrc")
    // ids 1 and 3 are "still present" upstream — id 1 TWICE (duplicate
    // source keys are legal when no MATCHED clause exists; the matched
    // target row must still come out exactly once); 2 and 4 are gone
    Seq((1L, "en", 0L), (1L, "en", 1L), (3L, "de", 0L), (11L, "nw", 11L))
      .toDF("id", "lang", "n").createOrReplaceTempView("mrgsrc_src")
    spark.sql(
      """MERGE INTO txrl.db.mrgsrc t USING mrgsrc_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, lang, n) VALUES (s.id, s.lang, s.n)
        |WHEN NOT MATCHED BY SOURCE AND t.lang = 'fr' THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET n = -1
        |""".stripMargin)
    // 1, 3 survive unchanged (matched, no MATCHED action, ONCE each);
    // 4 (fr, unmatched) deleted; 2 (unmatched) set to -1; 11 inserted
    assert(rows("SELECT id, lang, n FROM txrl.db.mrgsrc ORDER BY id") ==
      Seq((1L, "en", 5L), (2L, "en", -1L), (3L, "de", 9L),
        (11L, "nw", 11L)))
  }

  test("MERGE WITH SCHEMA EVOLUTION adds source-only columns; old rows read NULL") {
    import spark.implicits._
    val tbl = mkLangTable("mrgevo")
    // source carries a NEW column `score`: the analyzer's capability-
    // gated evolution commits one metadata `evolve` version through
    // alterTable, then the merge rewrites against the evolved schema
    Seq((3L, "de2", 100L, 0.5), (9L, "es", 50L, 0.9))
      .toDF("id", "lang", "n", "score")
      .createOrReplaceTempView("mrgevo_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO txrl.db.mrgevo t
        |USING mrgevo_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val dir = java.nio.file.Paths.get(tbl)
    val head = TxTable.latestVersion(tbl).get
    assert(TxTable.readManifest(dir, head).op == "merge")
    assert(TxTable.readManifest(dir, head - 1).op == "evolve")
    val out = spark.sql(
        "SELECT id, lang, n, score FROM txrl.db.mrgevo ORDER BY id")
      .collect().toSeq.map(r => (r.getLong(0), r.getString(1),
        r.getLong(2), Option(r.get(3))))
    // ids 1,2,4 predate the column (NULL); 3 updated with it; 9 inserted
    assert(out == Seq(
      (1L, "en", 5L, None), (2L, "en", 7L, None),
      (3L, "de2", 100L, Some(0.5)), (4L, "fr", 2L, None),
      (9L, "es", 50L, Some(0.9))))
    // the untouched en file carried VERBATIM through the evolved merge
    val before = TxTable.readManifest(dir, 3L)
    val after = TxTable.readManifest(dir, head)
    val enFile = before.files.find(f => before.stats(f)("lang").min == "en")
    assert(enFile.nonEmpty && after.files.contains(enFile.get))
  }

  test("MERGE evolution refuses a type conflict on a shared column") {
    import spark.implicits._
    mkLangTable("mrgevot")
    // source `n` is STRING where the table has BIGINT: the delta is an
    // UpdateColumnType change, which routes to widenColumn's lattice —
    // bigint→string is no widening, so the statement refuses loudly
    // (silently retyping would corrupt every existing row)
    Seq((3L, "x", "wide")).toDF("id", "lang", "n")
      .createOrReplaceTempView("mrgevot_src")
    val e = intercept[Exception](spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO txrl.db.mrgevot t
        |USING mrgevot_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin))
    assert(e.getMessage.contains("cannot change column") ||
      e.getMessage.contains("SCHEMA_EVOLUTION") ||
      e.getMessage.contains("cast"), e.getMessage)
    // nothing half-applied: schema unchanged
    assert(spark.table("txrl.db.mrgevot").schema.fieldNames.toSeq ==
      Seq("id", "lang", "n"))
  }

  test("MERGE evolution WIDENS a losslessly-widenable shared column") {
    import spark.implicits._
    // table n is INT; the source carries LONG — inside the widening
    // lattice, so WITH SCHEMA EVOLUTION commits a metadata-only widen
    // and the merge lands against the wide schema (the Delta
    // type-widening-on-MERGE shape; the user opted into evolution)
    val tbl = s"$warehouse/db/mrgevow"
    TxTable.commit(
      Seq((1L, "en", 5), (2L, "de", 7)).toDF("id", "lang", "n"),
      tbl, "overwrite")
    Seq((2L, "de", 5000000000L), (3L, "fr", 9L)).toDF("id", "lang", "n")
      .createOrReplaceTempView("mrgevow_src")
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO txrl.db.mrgevow t
        |USING mrgevow_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET n = s.n
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val dir = java.nio.file.Paths.get(tbl)
    val head = TxTable.latestVersion(tbl).get
    assert(TxTable.readManifest(dir, head).op == "merge")
    assert(TxTable.readManifest(dir, head - 1).op == "widen")
    val out = spark.sql("SELECT id, n FROM txrl.db.mrgevow ORDER BY id")
    assert(out.schema("n").dataType ==
      org.apache.spark.sql.types.LongType)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 5L), (2L, 5000000000L), (3L, 9L)))
  }

  test("MERGE WITH SCHEMA EVOLUTION works on a PARTITIONED table (cols slot before partitions)") {
    import spark.implicits._
    val tbl = s"$warehouse/db/mrgevop"
    TxTable.commit(
      Seq((1L, 5L, "en"), (2L, 7L, "de")).toDF("id", "n", "lang"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    Seq((2L, "de", 70L, true), (3L, "fr", 9L, false))
      .toDF("id", "lang", "n", "flag")
      .createOrReplaceTempView("mrgevop_src")
    // the evolved column slots BEFORE the partition column (hive
    // partition-cols-last invariant) and the merge's by-name
    // resolution — SET * / INSERT * included — lands against it
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO txrl.db.mrgevop t
        |USING mrgevop_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val dir = java.nio.file.Paths.get(tbl)
    val head = TxTable.latestVersion(tbl).get
    assert(TxTable.readManifest(dir, head).op == "merge")
    assert(TxTable.readManifest(dir, head - 1).op == "evolve")
    assert(spark.table("txrl.db.mrgevop").schema.fieldNames.toSeq ==
      Seq("id", "n", "flag", "lang"),
      "the evolved column must slot before the partition column")
    val out = spark.sql(
        "SELECT id, n, flag, lang FROM txrl.db.mrgevop ORDER BY id")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2)), r.getString(3)))
    assert(out == Seq((1L, 5L, None, "en"), (2L, 70L, Some(true), "de"),
      (3L, 9L, Some(false), "fr")))
    // a subsequent PLAIN append against the evolved schema still works
    // (the partition-cols-last invariant survived the evolution)
    TxTable.commit(Seq((4L, 1L, Some(true), "en"))
      .toDF("id", "n", "flag", "lang"), tbl, "append")
    assert(spark.sql("SELECT count(*) FROM txrl.db.mrgevop")
      .head().getLong(0) == 4L)
    // the ALTER-then-MERGE parity path keeps working too
    spark.sql("ALTER TABLE txrl.db.mrgevop ADD COLUMN note STRING")
    Seq((5L, "es", 2L, "hi")).toDF("id", "lang", "n", "note")
      .createOrReplaceTempView("mrgevop_src2")
    spark.sql(
      """MERGE INTO txrl.db.mrgevop t USING mrgevop_src2 s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, n, lang, note)
        |VALUES (s.id, s.n, s.lang, s.note)""".stripMargin)
    assert(spark.sql(
        "SELECT note FROM txrl.db.mrgevop WHERE id = 5").head()
      .getString(0) == "hi")
  }

  test("EXPLAIN MERGE WITH SCHEMA EVOLUTION leaves the table untouched") {
    import spark.implicits._
    val tbl = s"$warehouse/db/mrgexp"
    TxTable.commit(
      Seq((1L, 5L, "en")).toDF("id", "n", "lang"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    Seq((2L, "de", 7L, true)).toDF("id", "lang", "n", "flag")
      .createOrReplaceTempView("mrgexp_src")
    // EXPLAIN analyzes the merge (the rule runs) but never executes the
    // command — the evolution must NOT commit (the r20 review found the
    // old in-rule commit evolved the table from a plan that never ran)
    spark.sql(
      """EXPLAIN MERGE WITH SCHEMA EVOLUTION INTO txrl.db.mrgexp t
        |USING mrgexp_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin).collect(): Unit
    assert(TxTable.latestVersion(tbl).contains(1L),
      "EXPLAIN committed a version")
    assert(spark.table("txrl.db.mrgexp").schema.fieldNames.toSeq ==
      Seq("id", "n", "lang"), "EXPLAIN evolved the schema")
    // the real statement still evolves + merges as two versions
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO txrl.db.mrgexp t
        |USING mrgexp_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(TxTable.history(tbl).map(_._2) ==
      Seq("overwrite", "evolve", "merge"))
  }

  test("a provably-disjoint MERGE is a version-free no-op (empty source included)") {
    import spark.implicits._
    val tbl = mkLangTable("mrgnoop")
    val v0 = TxTable.latestVersion(tbl).get
    // all source keys above every file's id range: stats prune every
    // candidate, nothing inserted (update/delete-only) → NO version
    Seq((100L, "xx", 1L)).toDF("id", "lang", "n")
      .createOrReplaceTempView("mrgnoop_src")
    spark.sql(
      """MERGE INTO txrl.db.mrgnoop t USING mrgnoop_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET n = s.n""".stripMargin)
    assert(TxTable.latestVersion(tbl).contains(v0),
      "a merge that provably touches nothing committed a version")
    // EMPTY source: the measured key bounds are null → AlwaysFalse
    // prunes every file (not 'prune nothing and rewrite the table')
    spark.sql("SELECT * FROM mrgnoop_src WHERE id < 0")
      .createOrReplaceTempView("mrgnoop_empty")
    spark.sql(
      """MERGE INTO txrl.db.mrgnoop t USING mrgnoop_empty s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET n = s.n
        |WHEN NOT MATCHED THEN INSERT (id, lang, n)
        |VALUES (s.id, s.lang, s.n)""".stripMargin)
    assert(TxTable.latestVersion(tbl).contains(v0),
      "an empty-source merge committed a version")
  }

  test("explicit full-column UPDATE list is NOT star: evolved column stays NULL") {
    import spark.implicits._
    val tbl = s"$warehouse/db/mrgexpl"
    TxTable.commit(
      Seq((1L, 5L, "en")).toDF("id", "n", "lang"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    Seq((1L, "en", 70L, 0.9)).toDF("id", "lang", "n", "score")
      .createOrReplaceTempView("mrgexpl_src")
    // the SET list covers every old column EXPLICITLY (no star): the
    // evolved `score` column was never assigned, so it must stay NULL —
    // only genuine star actions extend with the new columns
    spark.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO txrl.db.mrgexpl t
        |USING mrgexpl_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET id = s.id, n = s.n""".stripMargin)
    val out = spark.sql(
        "SELECT id, n, score FROM txrl.db.mrgexpl ORDER BY id")
      .collect().toSeq.map(r => (r.getLong(0), r.getLong(1),
        Option(r.get(2))))
    assert(out == Seq((1L, 70L, None)),
      s"an explicit assignment list received unassigned source data: $out")
  }

  test("without WITH SCHEMA EVOLUTION extra source columns evolve nothing") {
    import spark.implicits._
    val tbl = mkLangTable("mrgnoevo")
    Seq((9L, "es", 50L, 0.9)).toDF("id", "lang", "n", "score")
      .createOrReplaceTempView("mrgnoevo_src")
    spark.sql(
      """MERGE INTO txrl.db.mrgnoevo t USING mrgnoevo_src s ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    // the extra column was ignored, not silently added
    assert(spark.table("txrl.db.mrgnoevo").schema.fieldNames.toSeq ==
      Seq("id", "lang", "n"))
    assert(TxTable.history(tbl).map(_._2).count(_ == "evolve") == 0)
  }
}
