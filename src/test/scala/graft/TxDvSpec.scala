package graft

import java.nio.file.{Files, Paths}

import graft.sources.{TxCatalog, TxTable}

/** Merge-on-read DELETE via deletion vectors: the `tx.deletionVectors`
  * table property routes DELETE to a tombstone-sidecar commit whose
  * data files are UNCHANGED (cost ∝ deleted rows, not touched-file
  * bytes — the 100 TB delete shape). Pins: the MoR routing and its
  * no-op/stacking behavior, every reader applying tombstones (API,
  * SQL SELECT via DvReadRule, time travel, diff), purge folding
  * tombstones into a clean layout rewriting ONLY affected files,
  * compact/zorder materializing deletes, vacuum keeping live sidecars,
  * restore carrying them, and the closed `tx.*` property set. */
class TxDvSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("txdv-spec-").toString + "/tbl"

  private def mkMor(tbl: String, n: Int = 10, perCommit: Int = 5): Unit = {
    // two commits → at least two data files, so partial-touch paths
    // are observable
    TxTable.commit((1 to perCommit).map(i => (i.toLong, i.toLong * 10))
      .toDF("id", "n"), tbl, "overwrite",
      properties = Map(TxTable.DvProperty -> "true"))
    TxTable.commit(((perCommit + 1) to n).map(i => (i.toLong, i.toLong * 10))
      .toDF("id", "n"), tbl, "append")
  }

  private def ids(tbl: String, v: Long): Seq[Long] =
    TxTable.readVersion(spark, tbl, v).select("id")
      .collect().map(_.getLong(0)).toSeq.sorted

  test("MoR delete: data files unchanged, tombstones applied, travelable") {
    val tbl = tmp()
    mkMor(tbl)
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    val v = TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 7L)))
    assert(v == 3L)
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    // the MoR contract: same files, same stats/blooms, one new sidecar
    assert(m3.files == m2.files && m3.stats == m2.stats)
    assert(m3.dvDirs.size == 1 && m3.op == "delete")
    assert(ids(tbl, 3L) == (1L to 7L))
    // pre-delete snapshot still reads in full
    assert(ids(tbl, 2L) == (1L to 10L))
    // diff sees the deletion (DV-aware on both ends)
    val d = TxTable.diff(spark, tbl, 2L, 3L)
    assert(d.filter($"change" === "delete").count() == 3L &&
      d.count() == 3L)
  }

  test("MoR delete matching nothing: no version, no sidecar debris") {
    val tbl = tmp()
    mkMor(tbl)
    val before = Files.list(Paths.get(tbl).resolve("data")).count()
    val v = TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 999L)))
    assert(v == 2L && TxTable.latestVersion(tbl) == Some(2L))
    assert(Files.list(Paths.get(tbl).resolve("data")).count() == before)
  }

  test("MoR deletes stack; tombstoned rows cannot re-match") {
    val tbl = tmp()
    mkMor(tbl)
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 7L)))
    // overlapping predicate: ids 6..7 newly match; 8..10 are already
    // tombstoned (the candidate read is DV-aware, so they cannot
    // produce duplicate tombstones)
    val v = TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 5L)))
    assert(v == 4L)
    val m = TxTable.readManifest(Paths.get(tbl), 4L)
    assert(m.dvDirs.size == 2)
    assert(ids(tbl, 4L) == (1L to 5L))
    // total tombstones across both sidecars = 5, not 8
    val root = Paths.get(tbl)
    val nTomb = m.dvDirs.map(d =>
      spark.read.parquet(root.resolve(d).toString).count()).sum
    assert(nTomb == 5L)
  }

  test("purge rewrites only tombstoned files, clears DVs, keeps content") {
    val tbl = tmp()
    mkMor(tbl) // files: v1 commit (ids 1-5), v2 commit (ids 6-10)
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 7L)))
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    val v = TxTable.purgeDeletes(spark, tbl)
    assert(v == 4L)
    val m4 = TxTable.readManifest(Paths.get(tbl), 4L)
    assert(m4.dvDirs.isEmpty && m4.op == "purge")
    // only files holding a tombstone rewrote; the rest carried verbatim
    val kept = m3.files.toSet.intersect(m4.files.toSet)
    assert(kept.nonEmpty && kept.size < m3.files.size)
    kept.foreach(f => assert(m4.stats.get(f) == m3.stats.get(f)))
    assert(ids(tbl, 4L) == (1L to 7L))
    // purge on a clean table is a version-free no-op
    assert(TxTable.purgeDeletes(spark, tbl) == 4L)
  }

  test("compact folds tombstones first; zorder materializes deletes") {
    val tbl = tmp()
    mkMor(tbl)
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.LessThan("id", 3L)))
    // compact = purge (v4) + compact (v5); no resurrection
    val v = TxTable.compact(spark, tbl, targetBytes = 1L << 20)
    assert(v == 5L)
    assert(TxTable.readManifest(Paths.get(tbl), 5L).dvDirs.isEmpty)
    assert(ids(tbl, 5L) == (3L to 10L))
    // a fresh MoR delete then zorder: full rewrite reads DV-aware and
    // publishes clean
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 9L)))
    val vz = TxTable.compactZOrder(spark, tbl, "id", "n", numFiles = 1)
    val mz = TxTable.readManifest(Paths.get(tbl), vz)
    assert(mz.dvDirs.isEmpty)
    assert(ids(tbl, vz) == (3L to 9L))
  }

  test("vacuum keeps sidecars live while any retained version needs them") {
    val tbl = tmp()
    mkMor(tbl)
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 7L)))
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    TxTable.purgeDeletes(spark, tbl) // v4: sidecar no longer in head
    val root = Paths.get(tbl)
    // retain v3+v4: the sidecar is still referenced by v3 → survives
    TxTable.vacuum(tbl, retain = 2, minAgeMillis = 0L)
    assert(Files.exists(root.resolve(m3.dvDirs.head)))
    assert(ids(tbl, 3L) == (1L to 7L))
    // retain only the head: v3's manifest expires and the sidecar goes
    TxTable.vacuum(tbl, retain = 1, minAgeMillis = 0L)
    assert(!Files.exists(root.resolve(m3.dvDirs.head)))
    assert(ids(tbl, 4L) == (1L to 7L))
  }

  test("restore to a DV-bearing version carries its tombstones") {
    val tbl = tmp()
    mkMor(tbl)
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 7L))) // v3
    TxTable.purgeDeletes(spark, tbl) // v4
    val v = TxTable.restore(tbl, 3L) // v5 == v3's snapshot
    val m = TxTable.readManifest(Paths.get(tbl), v)
    assert(m.dvDirs.nonEmpty)
    assert(ids(tbl, v) == (1L to 7L))
  }

  test("unknown tx.* property refuses; DvProperty validates its value") {
    val tbl = tmp()
    intercept[IllegalArgumentException](
      TxTable.commit(Seq((1L, 1L)).toDF("id", "n"), tbl, "overwrite",
        properties = Map("tx.noSuchKnob" -> "true")))
    intercept[IllegalArgumentException](
      TxTable.commit(Seq((1L, 1L)).toDF("id", "n"), tbl, "overwrite",
        properties = Map(TxTable.DvProperty -> "maybe")))
    assert(TxTable.latestVersion(tbl).isEmpty)
  }

  test("DV read plan: clean files scan join-free; only tombstone-" +
      "bearing files enter the anti-join") {
    val tbl = tmp()
    mkMor(tbl) // two commits → the delete's tombstones land in a subset
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.GreaterThan("id", 7L)))
    val m = TxTable.readManifest(Paths.get(tbl), 3L)
    val root = Paths.get(tbl)
    val dvFileKeys = m.dvDirs.flatMap(d =>
      spark.read.parquet(root.resolve(d).toString)
        .select("file").distinct().collect().map(_.getString(0))).toSet
    val df = TxTable.readVersion(spark, tbl, 3L)
    val lp = df.queryExecution.optimizedPlan
    val joins = lp.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join => j }
    assert(joins.size == 1, s"expected exactly one anti-join:\n$lp")
    def dataFiles(p: org.apache.spark.sql.catalyst.plans.logical
        .LogicalPlan): Set[String] = p.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[
            org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }.flatten.filterNot(_.contains("/dv-")).toSet
    val joined = dataFiles(joins.head)
    val all = dataFiles(lp)
    // the join's data scan reads exactly the tombstone-bearing files;
    // every clean file is read OUTSIDE the join (codegen-unbroken)
    assert(joined.nonEmpty && joined.forall(f =>
      dvFileKeys.exists(k => f.endsWith(k))))
    assert((all -- joined).nonEmpty && (all -- joined).forall(f =>
      !dvFileKeys.exists(k => f.endsWith(k))))
    assert(df.count() == 7L)
  }

  test("MoR UPDATE: tombstone + appended copies, files unchanged") {
    val wh = Files.createTempDirectory("txdv-upd-").toString
    TxCatalog.register(spark, "txdvu", wh)
    spark.sql("CREATE TABLE txdvu.db.t (id BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('tx.deletionVectors' = 'true')")
    spark.sql("INSERT INTO txdvu.db.t SELECT id, id * 10 " +
      "FROM range(1, 11)")
    val dir = s"$wh/db/t"
    val m2 = TxTable.readManifest(Paths.get(dir), 2L)
    spark.sql("UPDATE txdvu.db.t SET n = n + 1 WHERE id <= 3")
    val m3 = TxTable.readManifest(Paths.get(dir), 3L)
    // every pre-update file carries verbatim; only the copies append
    assert(m2.files.forall(m3.files.contains) && m3.op == "update")
    assert(m3.files.size > m2.files.size && m3.dvDirs.size == 1)
    m2.files.foreach(f => assert(m3.stats.get(f) == m2.stats.get(f)))
    assert(spark.sql("SELECT sum(n), count(*) FROM txdvu.db.t").head()
      .getLong(0) == (1 to 10).map(_ * 10L).sum + 3)
    // the tombstone count is exactly the matched rows
    val root = Paths.get(dir)
    assert(m3.dvDirs.map(d =>
      spark.read.parquet(root.resolve(d).toString).count()).sum == 3L)
    // a no-match UPDATE commits no version
    spark.sql("UPDATE txdvu.db.t SET n = 0 WHERE id > 999")
    assert(TxTable.latestVersion(dir) == Some(3L))
    // an updated row updates AGAIN correctly (copy files are plain
    // snapshot members: matchable, tombstonable)
    spark.sql("UPDATE txdvu.db.t SET n = n * 100 WHERE id = 1")
    assert(spark.sql("SELECT n FROM txdvu.db.t WHERE id = 1").head()
      .getLong(0) == 1100L)
    assert(spark.sql("SELECT count(*) FROM txdvu.db.t").head()
      .getLong(0) == 10L)
    // a constraint-violating MoR UPDATE refuses, withdraws its
    // sidecar, and leaves the table fully intact
    spark.sql("ALTER TABLE txdvu.db.t SET TBLPROPERTIES " +
      "('check.n_small' = 'n < 10000')")
    val vBefore = TxTable.latestVersion(dir).get
    val mBefore = TxTable.readManifest(root, vBefore)
    intercept[Exception](
      spark.sql("UPDATE txdvu.db.t SET n = 99999 WHERE id = 2"))
    assert(TxTable.latestVersion(dir) == Some(vBefore))
    // no orphaned sidecar: the data dir holds only referenced dv dirs
    val dvOnDisk = Files.list(root.resolve("data")).iterator()
    val orphans = new scala.collection.mutable.ArrayBuffer[String]()
    while (dvOnDisk.hasNext) {
      val p = dvOnDisk.next()
      val rel = "data/" + p.getFileName.toString
      if (rel.startsWith("data/dv-") && !mBefore.dvDirs.contains(rel))
        orphans += rel
    }
    assert(orphans.isEmpty, s"orphaned sidecars: $orphans")
  }

  test("MoR MERGE: only affected rows tombstone + stage; files carried") {
    val wh = Files.createTempDirectory("txdv-mrg-").toString
    TxCatalog.register(spark, "txdvm", wh)
    spark.sql("CREATE TABLE txdvm.db.t (id BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('tx.deletionVectors' = 'true')")
    spark.sql("INSERT INTO txdvm.db.t SELECT id, id * 10 " +
      "FROM range(1, 11)")
    val dir = s"$wh/db/t"
    // source: ids 2 (update), 3 (delete via condition), 20 (insert);
    // ids 1, 4-10 pass through untouched
    Seq((2L, 999L), (3L, -1L), (20L, 200L)).toDF("sid", "sn")
      .createOrReplaceTempView("dv_mrg_src")
    spark.sql(
      """MERGE INTO txdvm.db.t t USING dv_mrg_src s ON t.id = s.sid
        |WHEN MATCHED AND s.sn < 0 THEN DELETE
        |WHEN MATCHED THEN UPDATE SET n = s.sn
        |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (s.sid, s.sn)
        |""".stripMargin)
    val root = Paths.get(dir)
    val (m2, m3) = (TxTable.readManifest(root, 2L),
      TxTable.readManifest(root, 3L))
    // every pre-merge file carried verbatim; copies+inserts appended
    assert(m2.files.forall(m3.files.contains) && m3.op == "merge")
    assert(m3.dvDirs.size == 1)
    m2.files.foreach(f => assert(m3.stats.get(f) == m2.stats.get(f)))
    // tombstones = the two AFFECTED matched rows (2 updated, 3
    // deleted) — pass-through rows neither tombstone nor stage
    assert(m3.dvDirs.map(d =>
      spark.read.parquet(root.resolve(d).toString).count()).sum == 2L)
    val got = spark.sql(
      "SELECT id, n FROM txdvm.db.t ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq(1L -> 10L, 2L -> 999L) ++
      (4 to 10).map(i => i.toLong -> (i * 10L)) :+ (20L -> 200L))
    // a merge that fires NO action and inserts nothing: no version
    Seq((2L, 999L)).toDF("sid", "sn")
      .createOrReplaceTempView("dv_mrg_noop")
    spark.sql(
      """MERGE INTO txdvm.db.t t USING dv_mrg_noop s ON t.id = s.sid
        |WHEN MATCHED AND s.sn < 0 THEN DELETE
        |""".stripMargin)
    assert(TxTable.latestVersion(dir) == Some(3L))
    // NOT MATCHED BY SOURCE on the DV table: rows the source lacks
    // are affected; matched rows pass through without duplication
    spark.sql(
      """MERGE INTO txdvm.db.t t USING dv_mrg_src s ON t.id = s.sid
        |WHEN NOT MATCHED BY SOURCE AND t.id >= 9 THEN DELETE
        |""".stripMargin)
    assert(spark.sql("SELECT count(*) FROM txdvm.db.t").head()
      .getLong(0) == 8L) // 9, 10 deleted; 20 matched by source
    assert(TxTable.readManifest(root, 4L).dvDirs.size == 2)
  }

  test("SQL end-to-end: TBLPROPERTIES opt-in, DELETE is MoR, SELECT " +
      "applies tombstones, ALTER TABLE UNSET reverts to copy-on-write") {
    val wh = Files.createTempDirectory("txdv-sql-").toString
    TxCatalog.register(spark, "txdv", wh)
    spark.sql("CREATE TABLE txdv.db.t (id BIGINT, n BIGINT) " +
      "TBLPROPERTIES ('tx.deletionVectors' = 'true')")
    spark.sql("INSERT INTO txdv.db.t SELECT id, id * 10 " +
      "FROM range(1, 11)")
    val dir = s"$wh/db/t"
    val m2 = TxTable.readManifest(Paths.get(dir), 2L)
    spark.sql("DELETE FROM txdv.db.t WHERE id > 7")
    val m3 = TxTable.readManifest(Paths.get(dir), 3L)
    assert(m3.files == m2.files && m3.dvDirs.size == 1)
    // the property is introspectable on the SQL handle
    assert(spark.sql("SHOW TBLPROPERTIES txdv.db.t").collect()
      .exists(r => r.getString(0) == TxTable.DvProperty &&
        r.getString(1) == "true"))
    // the t$dv metadata table inventories the tombstone debt (footer
    // counts, zero data read): one sidecar, three tombstones
    val dvMeta = spark.sql(
      "SELECT dv_dir, tombstones FROM txdv.db.`t$dv`").collect()
    assert(dvMeta.length == 1 && dvMeta.head.getLong(1) == 3L &&
      dvMeta.head.getString(0) == m3.dvDirs.head)
    // DvReadRule: plain SELECT, aggregate, and a join all see 7 rows
    assert(spark.sql("SELECT count(*) FROM txdv.db.t").head().getLong(0)
      == 7L)
    assert(spark.sql("SELECT sum(n) FROM txdv.db.t").head().getLong(0)
      == (1 to 7).map(_ * 10L).sum)
    assert(spark.sql(
      "SELECT count(*) FROM txdv.db.t a JOIN txdv.db.t b USING (id)")
      .head().getLong(0) == 7L)
    // time travel: pre-delete snapshot is whole
    assert(spark.sql("SELECT count(*) FROM txdv.db.t VERSION AS OF 2")
      .head().getLong(0) == 10L)
    // UPDATE on the DV-bearing table cannot resurrect tombstoned rows
    spark.sql("UPDATE txdv.db.t SET n = 0 WHERE id = 1")
    assert(spark.sql("SELECT count(*), sum(n) FROM txdv.db.t").head()
      .getLong(0) == 7L)
    // MERGE reading the DV table as SOURCE sees tombstones too
    spark.sql("CREATE TABLE txdv.db.sink (id BIGINT, n BIGINT)")
    spark.sql("MERGE INTO txdv.db.sink s USING txdv.db.t u ON s.id = u.id " +
      "WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql("SELECT count(*) FROM txdv.db.sink").head()
      .getLong(0) == 7L)
    // UNSET reverts to copy-on-write: next delete rewrites files and
    // carries the remaining tombstones correctly
    spark.sql("ALTER TABLE txdv.db.t UNSET TBLPROPERTIES " +
      "('tx.deletionVectors')")
    spark.sql("DELETE FROM txdv.db.t WHERE id = 2")
    val head = TxTable.latestVersion(dir).get
    val mh = TxTable.readManifest(Paths.get(dir), head)
    assert(spark.sql("SELECT count(*) FROM txdv.db.t").head().getLong(0)
      == 6L)
    assert(mh.properties.get(TxTable.DvProperty).isEmpty)
  }
}
