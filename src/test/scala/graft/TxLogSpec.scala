package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import graft.sources.{TxCatalog, TxStats, TxTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources.EqualTo

/** The INCREMENTAL manifest log (TxTable scaladoc "Layout"): commit
  * metadata O(changed files) — not O(live files) — with periodic full
  * checkpoints, blooms in immutable content-addressed sidecars, and
  * pre-incremental full manifests still readable as replay bases. This
  * is the 100 TB write-path contract: the exactly-once streaming sink
  * commits EVERY micro-batch, so a full-file-list manifest with inline
  * blooms would be gigabytes of driver JSON per batch at a million
  * files. */
class TxLogSpec extends SparkSpec {

  private def tmpTable(): String =
    Files.createTempDirectory("graft-txlog-").toString + "/tbl"

  private def frame(ids: Long*) = {
    import spark.implicits._
    ids.map(i => (i, s"payload-$i")).toDF("id", "payload")
  }

  private def logFiles(tbl: String): Seq[String] =
    Files.list(Paths.get(tbl).resolve("_txlog")).iterator().asScala
      .filter(Files.isRegularFile(_))
      .map(_.getFileName.toString).toSeq.sorted

  private def deltaSize(tbl: String, v: Long): Long =
    Files.size(Paths.get(tbl).resolve("_txlog").resolve(f"v$v%05d.json"))

  test("commit path is bloom-blind: appends, lastTxn, metadata commits, vacuum read ZERO sidecars") {
    import spark.implicits._
    val tbl = tmpTable()
    TxTable.commit((0L until 40L).map(i => (i, s"s$i")).toDF("id", "s"),
      tbl, "overwrite", bloomColumns = Seq("id", "s"))
    (1 to 5).foreach(k => TxTable.commit(
      Seq((100L + k, s"x$k")).toDF("id", "s"), tbl, "append",
      bloomColumns = Seq("id", "s")))
    // six live sidecars exist; from here the COMMIT PATH must read none
    val c0 = TxTable.sidecarReadCount(tbl)
    TxTable.commit(Seq((200L, "y")).toDF("id", "s"), tbl, "append",
      bloomColumns = Seq("id", "s"), txn = Some("app" -> 1L))
    assert(TxTable.sidecarReadCount(tbl) == c0,
      "an append commit materialized carried bloom sidecars — at 1M " +
        "files that is O(live bloom bytes) of driver IO per commit")
    assert(TxTable.lastTxn(tbl, "app").contains(1L))
    assert(TxTable.sidecarReadCount(tbl) == c0,
      "the streaming sink's per-batch lastTxn pre-check paid sidecar IO")
    TxTable.alterProperties(tbl,
      set = Map("tx.checkpointInterval" -> "20"), unset = Set.empty)
    TxTable.renameColumn(spark, tbl, "s", "t")
    assert(TxTable.sidecarReadCount(tbl) == c0,
      "metadata-only commits materialized bloom sidecars")
  }

  test("commit footer stats gather bounded-parallel, bit-identical to the serial loop") {
    import spark.implicits._
    val tbl = tmpTable()
    // a multi-file commit: 6 staged files → the stats pool must fan out
    val df = (0 until 600).map(i => (i.toLong, f"s$i%03d", i / 2.0))
      .toDF("id", "s", "v").repartition(6)
    TxTable.commit(df, tbl, "overwrite")
    // the r19 verdict's #2 finding pinned: the footer loop is no longer
    // serial — a fixed pool creates one fresh thread per submission up
    // to its size, so a 6-file staging records >= 2 reader threads
    assert(TxTable.statsReadThreadCount(tbl) >= 2,
      s"stats gather ran on ${TxTable.statsReadThreadCount(tbl)} " +
        "thread(s) — a 1,000-file append on object storage would pay " +
        "minutes of sequential footer round trips per commit")
    // and the parallel gather is BIT-IDENTICAL to reading each footer
    // serially (results land by index; completion order cannot matter)
    val root = Paths.get(tbl)
    val m = TxTable.readManifest(root, 1L)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(m.files.size >= 6, s"expected a multi-file commit: ${m.files}")
    val serial = m.files.flatMap { f =>
      val s = TxStats.forFile(root.resolve(f), schema)
      if (s.isEmpty) None else Some(f -> s)
    }.toMap
    assert(m.stats == serial,
      "parallel stats gather diverged from the serial footer loop")
  }

  test("bloom-blind commits keep blooms LIVE: refs carry, scans and scrubs still see them") {
    import spark.implicits._
    val tbl = tmpTable()
    TxTable.commit((0L until 40L).map(i => (i, i * 2, s"s$i"))
      .toDF("id", "n", "s"), tbl, "overwrite",
      bloomColumns = Seq("id", "s"))
    (1 to 4).foreach(k => TxTable.commit(
      Seq((100L + k, k.toLong, s"x$k")).toDF("id", "n", "s"), tbl,
      "append", bloomColumns = Seq("id", "s"), txn = Some("app" -> k.toLong)))
    val c0 = TxTable.sidecarReadCount(tbl)
    // metadata-only commits + vacuum: zero sidecar reads
    TxTable.alterProperties(tbl,
      set = Map("tx.checkpointInterval" -> "3"), unset = Set.empty)
    TxTable.renameColumn(spark, tbl, "s", "t")
    TxTable.vacuum(tbl, retain = 3, minAgeMillis = 0L)
    assert(TxTable.sidecarReadCount(tbl) == c0,
      "metadata commits / vacuum materialized bloom sidecars")
    // the blooms SURVIVED the whole lite chain: a materializing read
    // serves every live file's blooms (and pays sidecar IO — the
    // counter's sanity arm), keyed by the ORIGINAL physical name
    val v = TxTable.latestVersion(tbl).get
    val m = TxTable.readManifest(Paths.get(tbl), v)
    assert(TxTable.sidecarReadCount(tbl) > c0, "counter never fired")
    assert(m.blooms.keySet == m.files.toSet,
      s"bloom coverage narrowed: ${m.blooms.size} of ${m.files.size}")
    assert(m.blooms.values.forall(_.keySet == Set("id", "s")))
    // point-lookup skipping still fires through the carried refs
    val lbl = TxTable.logicalBlooms(m)
    val excluded = m.files.count(f => TxStats.bloomExcludes(
      lbl.getOrElse(f, Map.empty), EqualTo("id", 104L)))
    assert(excluded > 0, "bloom skipping dead after lite commits")
    // evolve's column scrub (the ONE declared bloom rewrite) still
    // lands: dropped column's blooms gone, kept column's stay
    TxTable.evolveColumns(spark, tbl, drop = Seq("t"))
    val m2 = TxTable.readManifest(Paths.get(tbl),
      TxTable.latestVersion(tbl).get)
    assert(m2.blooms.values.forall(_.keySet == Set("id")),
      "the evolve scrub lost or leaked bloom columns")
    assert(m2.blooms.keySet == m2.files.toSet)
    // and the scrubbed state survives a checkpointed reload + vacuum
    TxTable.commit(Seq((300L, 1L)).toDF("id", "n"), tbl, "append",
      bloomColumns = Seq("id"))
    TxTable.vacuum(tbl, retain = 2, minAgeMillis = 0L)
    val m3 = TxTable.readManifest(Paths.get(tbl),
      TxTable.latestVersion(tbl).get)
    assert(m3.blooms.keySet == m3.files.toSet)
    assert(m3.blooms.values.forall(_.keySet == Set("id")))
  }

  test("checkpoint resilience: blocked writes never block commits; CALL repairs; vacuum refuses") {
    import spark.implicits._
    val tbl = tmpTable()
    val log = Paths.get(tbl).resolve("_txlog")
    TxTable.commit(frame(1L), tbl, "overwrite",
      properties = Map("tx.checkpointInterval" -> "5"))
    // block every periodic checkpoint path with a DIRECTORY so the
    // write fails — commits must still land (publish warns loudly but
    // the log is complete without the checkpoint)
    (5L to 25L by 5L).foreach(v =>
      Files.createDirectories(log.resolve(f"v$v%05d.ckpt.parquet")): Unit)
    (2L to 28L).foreach(i => TxTable.commit(frame(i), tbl, "append"))
    // 27 failed checkpoints later: readable, but a cold head load
    // replays the WHOLE tail — exactly the staleness t$log surfaces
    assert(TxTable.logSummary(tbl) == TxTable.LogSummary(28L, None, 27L))
    assert(TxTable.read(spark, tbl).count() == 28L)
    // the operator repair: one CALL restores bounded snapshot-load cost
    val wh = Files.createTempDirectory("txlog-wh-")
    TxCatalog.register(spark, "txlogck", wh.toString)
    Files.createDirectories(wh.resolve("db"))
    Files.createSymbolicLink(wh.resolve("db").resolve("t"),
      Paths.get(tbl)): Unit
    assert(spark.sql("CALL txlogck.system.checkpoint('db.t')")
      .head().getLong(0) == 28L)
    assert(TxTable.logSummary(tbl) ==
      TxTable.LogSummary(28L, Some(28L), 0L))
    val lr = spark.sql("SELECT * FROM txlogck.db.`t$log`").head()
    assert(lr.getLong(0) == 28L && lr.getLong(1) == 28L &&
      lr.getLong(2) == 0L)
    // idempotent re-CALL
    assert(spark.sql("CALL txlogck.system.checkpoint('db.t')")
      .head().getLong(0) == 28L)
    // vacuum's retention-boundary checkpoint REFUSES when its write is
    // blocked — deleting expired deltas without a landed base would
    // strand every retained version's replay path
    TxTable.commit(frame(100L), tbl, "append") // v29, head past the ckpt
    Files.createDirectories(log.resolve(f"v${27L}%05d.ckpt.parquet")): Unit
    val e = intercept[IllegalStateException](
      TxTable.vacuum(tbl, retain = 3, minAgeMillis = 0L))
    assert(e.getMessage.contains("checkpoint"), e.getMessage)
    assert(TxTable.versions(tbl).size == 29,
      "vacuum deleted manifests despite a failed boundary checkpoint")
  }

  test("commit metadata bytes stay ~constant across N appends (O(changed), not O(live))") {
    val tbl = tmpTable()
    (1L to 24L).foreach { i =>
      TxTable.commit(frame(i), tbl,
        if (i == 1L) "overwrite" else "append", bloomColumns = Seq("id"))
    }
    // the table holds 24 files; a full-file-list manifest with inline
    // blooms would grow linearly (and carry 24 × ~2 KiB of base64) —
    // the delta for append #24 must cost what append #3 cost
    val early = deltaSize(tbl, 3L)
    val late = deltaSize(tbl, 24L)
    assert(late <= early * 2,
      s"delta v24 is $late bytes vs v3's $early — the log is growing " +
        "with live-file count, not with the commit's own actions")
    // no inline bloom payloads and no full file list in any delta
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    Seq(2L, 12L, 24L).foreach { v =>
      val node = mapper.readTree(Files.readAllBytes(
        Paths.get(tbl).resolve("_txlog").resolve(f"v$v%05d.json")))
      assert(node.get("fmt").asInt() == 2)
      assert(node.get("blooms") == null, s"v$v inlines blooms")
      assert(node.get("files") == null, s"v$v carries the full file list")
      assert(node.get("add").size() == 1, s"v$v add count")
    }
    // full state reads back correctly through checkpoint + tail replay
    val m = TxTable.readManifest(Paths.get(tbl), 24L)
    assert(m.files.size == 24)
    assert(m.blooms.size == 24, "bloom coverage lost through the log")
    assert(TxTable.read(spark, tbl).count() == 24L)
    assert(TxTable.readVersion(spark, tbl, 7L).count() == 7L)
    // the default interval (20) materialized exactly one checkpoint
    assert(logFiles(tbl).count(_.endsWith(".ckpt.parquet")) == 1)
    assert(Files.exists(
      Paths.get(tbl).resolve("_txlog").resolve("v00020.ckpt.parquet")))
    // blooms landed as content-addressed sidecars, one per commit
    val blooms = Paths.get(tbl).resolve("_txlog").resolve("blooms")
    assert(Files.isDirectory(blooms))
    assert(Files.list(blooms).count() == 24L)
  }

  test("bloom skipping survives the sidecar log end-to-end") {
    val tbl = tmpTable()
    // three appends with disjoint id ranges and id blooms
    TxTable.commit(frame(1L, 2L), tbl, "overwrite", bloomColumns = Seq("id"))
    TxTable.commit(frame(100L, 101L), tbl, "append", bloomColumns = Seq("id"))
    TxTable.commit(frame(200L, 201L), tbl, "append", bloomColumns = Seq("id"))
    val m = TxTable.readManifest(Paths.get(tbl), 3L)
    assert(m.files.nonEmpty && m.blooms.keySet == m.files.toSet)
    assert(m.bloomRefs.keySet == m.blooms.keySet)
    // min/max cannot separate id=150 from the [100,201] span alone;
    // blooms prove every file out (150 was never inserted)
    val lb = TxTable.logicalBlooms(m)
    val excluded = m.files.count { f =>
      TxStats.bloomExcludes(lb.getOrElse(f, Map.empty), EqualTo("id", 150L))
    }
    assert(excluded == m.files.size,
      s"blooms from sidecars excluded $excluded/${m.files.size}")
  }

  test("tx.checkpointInterval property controls checkpoint cadence") {
    val tbl = tmpTable()
    TxTable.commit(frame(1L), tbl, "overwrite",
      properties = Map(TxTable.CheckpointIntervalProperty -> "5"))
    (2L to 12L).foreach(i => TxTable.commit(frame(i), tbl, "append"))
    val ckpts = logFiles(tbl).filter(_.endsWith(".ckpt.parquet"))
    assert(ckpts == Seq("v00005.ckpt.parquet", "v00010.ckpt.parquet"), ckpts)
    assert(TxTable.read(spark, tbl).count() == 12L)
  }

  test("pre-incremental full manifests read back and serve as replay bases") {
    val tbl = tmpTable()
    TxTable.commit(frame(1L, 2L), tbl, "overwrite", bloomColumns = Seq("id"))
    TxTable.commit(frame(100L), tbl, "append", bloomColumns = Seq("id"))
    // rewrite both versions' log entries in the OLD format (full file
    // list + inline stats + inline base64 blooms, no `fmt` field) —
    // byte-compatible with what pre-incremental tables hold on disk
    (1L to 2L).foreach { v =>
      val m = TxTable.readManifest(Paths.get(tbl), v)
      writeLegacyManifest(Paths.get(tbl), m.copy(version = v))
    }
    // wipe the sidecars the fmt-2 commits wrote: a genuinely old table
    // has none, and nothing may reference them after the rewrite
    val blooms = Paths.get(tbl).resolve("_txlog").resolve("blooms")
    Files.list(blooms).iterator().asScala.foreach(Files.delete)
    Files.delete(blooms)
    // old format reads: full state, inline blooms, empty refs
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m2.files.nonEmpty && m2.blooms.keySet == m2.files.toSet)
    assert(m2.bloomRefs.isEmpty)
    assert(TxTable.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 100L))
    // a NEW append on top: fmt-2 delta over the old base — and the one
    // commit that migrates the carried inline blooms to a sidecar
    TxTable.commit(frame(200L), tbl, "append", bloomColumns = Seq("id"))
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    assert(m3.files.size > m2.files.size)
    assert(m3.blooms.keySet == m3.files.toSet,
      "old inline blooms lost through the append")
    assert(m3.bloomRefs.keySet == m3.blooms.keySet,
      "migration must leave every bloom sidecar-backed")
    assert(TxTable.read(spark, tbl).count() == 4L)
    // and the migrated blooms still exclude correctly
    val lb = TxTable.logicalBlooms(m3)
    assert(m3.files.forall(f => TxStats.bloomExcludes(
      lb.getOrElse(f, Map.empty), EqualTo("id", 55L))))
  }

  test("vacuum writes the retention-boundary checkpoint and reclaims dead sidecars") {
    val tbl = tmpTable()
    (1L to 9L).foreach { i =>
      TxTable.commit(frame(i), tbl,
        if (i == 1L) "overwrite" else "append", bloomColumns = Seq("id"))
    }
    // an overwrite at v10 makes v1..v9's files (and their sidecars) dead
    // once those versions expire
    TxTable.commit(frame(500L), tbl, "overwrite", bloomColumns = Seq("id"))
    val sidecarsBefore = Files.list(
      Paths.get(tbl).resolve("_txlog").resolve("blooms")).count()
    assert(sidecarsBefore == 10L)
    val stats = TxTable.vacuum(tbl, retain = 2, minAgeMillis = 0L)
    assert(stats.expiredVersions == (1L to 8L))
    // the oldest retained version got its replay base
    assert(Files.exists(
      Paths.get(tbl).resolve("_txlog").resolve("v00009.ckpt.parquet")))
    // both retained versions read back
    assert(TxTable.readVersion(spark, tbl, 9L).count() == 9L)
    assert(TxTable.readVersion(spark, tbl, 10L).count() == 1L)
    // expired deltas are gone; only retained log entries remain
    val vs = TxTable.versions(tbl)
    assert(vs == Seq(9L, 10L))
    // v9 still references v1..v9's sidecars (its state carries their
    // blooms), so they survive; after retaining only v10, they die
    TxTable.commit(frame(501L), tbl, "append", bloomColumns = Seq("id"))
    TxTable.vacuum(tbl, retain = 2, minAgeMillis = 0L): Unit
    val left = Files.list(
        Paths.get(tbl).resolve("_txlog").resolve("blooms"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    val liveRefs = Seq(10L, 11L).flatMap(v =>
      TxTable.readManifest(Paths.get(tbl), v).bloomRefs.values)
      .map(_.split('/').last).toSet
    assert(left == liveRefs,
      s"sidecars on disk $left != live references $liveRefs")
    // and bloom skipping still works on the survivor
    val m = TxTable.readManifest(Paths.get(tbl), 11L)
    assert(m.blooms.size == 2)
  }

  test("legacy-rebased files record no timestamp/date stats — no wrong skips") {
    import spark.implicits._
    val tbl = tmpTable()
    // pre-1582 instants can only be written under LEGACY rebase, where
    // the file stores hybrid-Julian micros/days that disagree with the
    // proleptic literal conversion excludes() uses by several days — a
    // stat would wrongly prune; the footer's legacyDateTime marker
    // gates the stat off (value columns unaffected)
    withConf("spark.sql.parquet.datetimeRebaseModeInWrite" -> "LEGACY")(
      TxTable.commit(
      Seq((1L, java.sql.Timestamp.valueOf("1000-01-05 00:00:00"),
        java.sql.Date.valueOf("1000-01-05"))).toDF("id", "ts", "d")
        .coalesce(1), tbl, "overwrite"))
    val m = TxTable.readManifest(Paths.get(tbl), 1L)
    val cols = m.stats.values.flatMap(_.keySet).toSet
    assert(cols.contains("id"), s"integral stats must still record: $cols")
    assert(!cols.contains("ts") && !cols.contains("d"),
      s"legacy-rebased timestamp/date stats recorded — a pre-1582 range " +
        s"predicate would wrongly skip this file: $cols")
    // and the ancient row still answers (kept, not pruned)
    assert(TxTable.read(spark, tbl)
      .where("ts < TIMESTAMP '1200-01-01 00:00:00'").count() == 1L)
  }

  test("age-based vacuum: young versions survive the count floor, expiry stays a prefix") {
    val tbl = tmpTable()
    (1L to 6L).foreach(i => TxTable.commit(frame(i), tbl,
      if (i == 1L) "overwrite" else "append"))
    val log = Paths.get(tbl).resolve("_txlog")
    def backdate(v: Long): Unit =
      Files.setLastModifiedTime(log.resolve(f"v$v%05d.json"),
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 7200000L)): Unit
    (1L to 3L).foreach(backdate)
    // retain=1 alone would expire v1..v5; the 1h age gate keeps
    // everything published within the hour (Iceberg older_than +
    // retain_last semantics)
    val stats = TxTable.vacuum(tbl, retain = 1, minAgeMillis = 0L,
      retainAgeMillis = Some(3600000L))
    assert(stats.expiredVersions == Seq(1L, 2L, 3L), stats)
    assert(TxTable.versions(tbl) == Seq(4L, 5L, 6L))
    assert(TxTable.readVersion(spark, tbl, 4L).count() == 4L)
    // prefix contiguity: an old v5 BEHIND a young v4 must survive —
    // expiring it would strand v5+'s replay chain past the
    // oldest-retained checkpoint
    backdate(5L)
    val s2 = TxTable.vacuum(tbl, retain = 1, minAgeMillis = 0L,
      retainAgeMillis = Some(3600000L))
    assert(s2.expiredVersions.isEmpty, s2)
    assert(TxTable.versions(tbl) == Seq(4L, 5L, 6L))
    // and with no age gate the behavior is the pre-r20 count contract
    val s3 = TxTable.vacuum(tbl, retain = 2, minAgeMillis = 0L)
    assert(s3.expiredVersions == Seq(4L))
  }

  test("a replayed txn refuses on the FIRST attempt, not only on rebase") {
    val tbl = tmpTable()
    TxTable.commit(frame(1L), tbl, "overwrite")
    TxTable.commit(frame(2L), tbl, "append", txn = Some("app" -> 5L))
    // a zombie writer that read its watermark BEFORE the commit above
    // landed: its own commit must refuse here — the publish would win
    // without a version collision (rebaseAppend's identical check
    // never runs on the no-race path) and duplicate the batch's rows
    val e = intercept[IllegalStateException](
      TxTable.commit(frame(99L), tbl, "append", txn = Some("app" -> 5L)))
    assert(e.getMessage.contains("zombie/replay"), e.getMessage)
    assert(TxTable.read(spark, tbl).count() == 2L,
      "the replayed batch's rows were committed twice")
    assert(TxTable.latestVersion(tbl).contains(2L))
    // the NEXT batch id commits normally
    TxTable.commit(frame(3L), tbl, "append", txn = Some("app" -> 6L))
    assert(TxTable.lastTxn(tbl, "app").contains(6L))
  }

  test("rebase retries reuse the identical content-addressed sidecar") {
    val tbl = tmpTable()
    TxTable.commit(frame(1L), tbl, "overwrite", bloomColumns = Seq("id"))
    // the losing append's bloom content is identical across its retry,
    // so the sidecar write is idempotent (same SHA → same path)
    val prim = new graft.sources.ConflictInjectingPrimitive(
      graft.sources.PosixLinkPrimitive,
      () => TxTable.commit(frame(50L), tbl, "append",
        bloomColumns = Seq("id")): Unit)
    val v = TxTable.commit(frame(99L), tbl, "append",
      bloomColumns = Seq("id"), primitive = prim)
    assert(v == 3L)
    val m = TxTable.readManifest(Paths.get(tbl), 3L)
    assert(m.blooms.size == 3)
    assert(TxTable.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 50L, 99L))
    // no orphaned sidecars: every sidecar on disk is referenced
    val onDisk = Files.list(
        Paths.get(tbl).resolve("_txlog").resolve("blooms"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    val refs = m.bloomRefs.values.map(_.split('/').last).toSet
    assert(onDisk == refs)
  }

  test("restore carries by reference; a bloom-free evolve DROP stays lite") {
    val tbl = tmpTable()
    TxTable.commit(frame(1L, 2L), tbl, "overwrite", bloomColumns = Seq("id"))
    TxTable.commit(frame(3L), tbl, "append", bloomColumns = Seq("id"))
    TxTable.commit(frame(4L), tbl, "append", bloomColumns = Seq("id"))
    val c0 = TxTable.sidecarReadCount(tbl)
    // every v2 file is still referenced by the head → the rollback is a
    // pure metadata commit: ZERO sidecar materialization (r20; the
    // bloom-blind discipline extended to restore)
    assert(TxTable.restore(tbl, 2L) == 4L)
    assert(TxTable.sidecarReadCount(tbl) == c0,
      "restore materialized sidecars for files the head still references")
    // and the restored head still carries full bloom coverage by ref
    val m = TxTable.readManifest(Paths.get(tbl), 4L)
    assert(m.blooms.keySet == m.files.toSet,
      "lite restore lost bloom coverage")
    // a DROP on a bloom-FREE table has nothing to scrub: fully lite
    val tbl2 = tmpTable()
    import spark.implicits._
    TxTable.commit(Seq((1L, "a", 5.0), (2L, "b", 6.0))
      .toDF("id", "payload", "w"), tbl2, "overwrite")
    val c2 = TxTable.sidecarReadCount(tbl2)
    assert(TxTable.evolveColumns(spark, tbl2, drop = Seq("w")) == 2L)
    assert(TxTable.sidecarReadCount(tbl2) == c2,
      "a bloom-free DROP paid sidecar IO")
    assert(TxTable.read(spark, tbl2).columns.toSeq == Seq("id", "payload"))
  }

  test("fmt-3 checkpoint: columnar, splittable, round-trips a large file count") {
    val tbl = tmpTable()
    TxTable.commit(frame(1L), tbl, "overwrite")
    val root = Paths.get(tbl)
    val m1 = TxTable.readManifest(root, 1L)
    // a 20,000-file snapshot with three stat columns each (~80k entry
    // rows) — the scale where the old monolithic JSON was a
    // hundreds-of-MB text blob parsed whole on the driver
    val bigFiles = (0 until 20000)
      .map(i => f"data/synth/part-$i%06d-0000.snappy.parquet")
    val bigStats = bigFiles.map { f =>
      val h = (f.hashCode & 0x7fffffff).toLong
      f -> Map(
        "id" -> TxStats.ColStat(h.toString, (h + 10L).toString, 0L, 10L),
        "ts" -> TxStats.ColStat("1704067200000000", "1704153599000000"),
        "payload" -> TxStats.ColStat("aaa", "zzz", 3L, 10L))
    }.toMap
    val refs = bigFiles.take(5000)
      .map(_ -> "_txlog/blooms/0123456789abcdef.json").toMap
    val big = m1.copy(version = 2L, files = bigFiles, stats = bigStats,
      blooms = Map.empty, bloomRefs = refs)
    TxTable.writeCheckpoint(root, big)
    val ckpt = root.resolve("_txlog").resolve("v00002.ckpt.parquet")
    assert(Files.isRegularFile(ckpt), "fmt-3 checkpoint not written")
    // round trip: file ORDER, stats, and bloom refs all bit-identical
    val back = TxTable.readCheckpoint(root, 2L)
    assert(back.files == big.files, "file list (or its order) diverged")
    assert(back.stats == big.stats, "stats diverged through parquet")
    assert(back.bloomRefs == big.bloomRefs, "bloom refs diverged")
    assert(back.schemaJson == big.schemaJson &&
      back.op == big.op && back.blooms.isEmpty)
    // SPLITTABLE: many bounded row groups, not one monolith — the
    // property that lets a distributed reader fan out over the state
    val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(ckpt.toString),
        new org.apache.hadoop.conf.Configuration()))
    val blocks = try pf.getFooter.getBlocks.size() finally pf.close()
    assert(blocks > 1,
      s"checkpoint wrote $blocks row group(s) — not splittable at 20k " +
        "files; row-group flushes are the bounded-memory contract")
    // and it IS stock parquet: spark.read serves it distributed as-is
    val df = spark.read.parquet(ckpt.toString)
    assert(df.where("kind = 0").count() == 20000L)
    assert(df.where("kind = 1").count() == 60000L)
    assert(df.where("kind = 0 AND bloom_ref IS NOT NULL").count() == 5000L)
  }

  test("fmt-3 checkpoint round-trips random manifests bit-for-bit") {
    val rnd = new scala.util.Random(20L)
    val tbl = tmpTable()
    TxTable.commit(frame(1L), tbl, "overwrite")
    val root = Paths.get(tbl)
    val base = TxTable.readManifest(root, 1L)
    // adversarial strings: unicode, '=', '%', spaces, dots — anything a
    // path or an ASCII-ish stat string could legally carry
    def rndStr(n: Int): String = {
      val chars = "abcXYZ09=. -%é日本"
      Seq.fill(1 + rnd.nextInt(n))(chars(rnd.nextInt(chars.length)))
        .mkString
    }
    (2 to 7).foreach { k =>
      val files = (0 until rnd.nextInt(30))
        .map(i => s"data/${rndStr(10)}/$i-${rndStr(6)}.parquet").distinct
      val stats = files.filter(_ => rnd.nextBoolean()).map { f =>
        f -> (0 until 1 + rnd.nextInt(3)).map { j =>
          val cs =
            if (rnd.nextInt(5) == 0) // the all-null sentinel shape
              TxStats.ColStat("", "", 10L, 10L)
            else TxStats.ColStat(rndStr(6), rndStr(6),
              if (rnd.nextBoolean()) rnd.nextInt(100).toLong else -1L,
              if (rnd.nextBoolean()) rnd.nextInt(1000).toLong else -1L)
          s"c$j-${rndStr(3)}" -> cs
        }.toMap
      }.toMap
      val refs = files.filter(_ => rnd.nextBoolean())
        .map(f => f -> s"_txlog/blooms/${rndStr(8)}.json").toMap
      // lossless escapes: stats and refs for files ABSENT from the list
      val orphanStats = Map(
        s"gone/${rndStr(5)}" -> Map("x" -> TxStats.ColStat("1", "2")))
      val orphanRefs = Map(s"gone2/${rndStr(5)}" -> "_txlog/blooms/z.json")
      val m = base.copy(version = k.toLong, files = files,
        stats = stats ++ orphanStats, blooms = Map.empty,
        bloomRefs = refs ++ orphanRefs)
      TxTable.writeCheckpoint(root, m)
      val back = TxTable.readCheckpoint(root, k.toLong)
      assert(back.files == m.files, s"v$k file list/order diverged")
      assert(back.stats == m.stats, s"v$k stats diverged")
      assert(back.bloomRefs == m.bloomRefs, s"v$k refs diverged")
      assert(back.schemaJson == m.schemaJson && back.op == m.op &&
        back.properties == m.properties)
    }
  }

  test("legacy fmt-2 JSON checkpoints read as replay bases forever") {
    val tbl = tmpTable()
    TxTable.commit(frame(1L), tbl, "overwrite",
      properties = Map(TxTable.CheckpointIntervalProperty -> "3"))
    (2L to 7L).foreach(i => TxTable.commit(frame(i), tbl, "append"))
    val root = Paths.get(tbl)
    val log = root.resolve("_txlog")
    assert(Files.isRegularFile(log.resolve("v00003.ckpt.parquet")) &&
      Files.isRegularFile(log.resolve("v00006.ckpt.parquet")))
    // swap v3's checkpoint for the OLD monolithic-JSON form (the bytes
    // a pre-fmt-3 table holds on disk) and drop every parquet
    // checkpoint: the v7 load must replay off the legacy base
    val m3 = TxTable.readManifest(root, 3L)
    writeLegacyCkptJson(root, m3)
    Files.delete(log.resolve("v00003.ckpt.parquet"))
    Files.delete(log.resolve("v00006.ckpt.parquet"))
    assert(TxTable.logSummary(tbl) ==
      TxTable.LogSummary(7L, Some(3L), 4L))
    val m7 = TxTable.readManifest(root, 7L)
    assert(m7.files.size == 7)
    assert(TxTable.read(spark, tbl).count() == 7L)
    // and the repair CALL writes a NEW fmt-3 checkpoint on top of the
    // legacy base without touching it
    TxTable.checkpoint(tbl): Unit
    assert(Files.isRegularFile(log.resolve("v00007.ckpt.parquet")))
    assert(Files.isRegularFile(log.resolve("v00003.ckpt.json")))
    assert(TxTable.logSummary(tbl) ==
      TxTable.LogSummary(7L, Some(7L), 0L))
  }

  /** The pre-fmt-3 checkpoint format (fmt 2, monolithic JSON),
    * reproduced byte-shape-faithfully for the compatibility pin: full
    * state inline, blooms as sidecar references. */
  private def writeLegacyCkptJson(root: Path, m: TxTable.Manifest): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("fmt", 2)
    node.put("version", m.version)
    node.put("op", m.op)
    node.put("schema", m.schemaJson): Unit
    val arr = node.putArray("files")
    m.files.foreach(arr.add)
    if (m.stats.nonEmpty) {
      val st = node.putObject("stats")
      m.stats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val fo = st.putObject(file)
        cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
          val co = fo.putObject(c)
          co.put("min", cs.min)
          co.put("max", cs.max): Unit
          if (cs.nulls >= 0L) co.put("nulls", cs.nulls): Unit
          if (cs.rows >= 0L) co.put("rows", cs.rows): Unit
        }
      }
    }
    if (m.bloomRefs.nonEmpty) {
      val br = node.putObject("bloomRefs")
      m.bloomRefs.toSeq.sortBy(_._1).foreach { case (f, r) =>
        br.put(f, r): Unit
      }
    }
    Files.write(
      root.resolve("_txlog").resolve(f"v${m.version}%05d.ckpt.json"),
      mapper.writeValueAsBytes(node)): Unit
  }

  /** The pre-incremental on-disk format, reproduced byte-shape-faithfully
    * for the compatibility pin: full file list, inline stats, inline
    * base64 blooms, no `fmt` marker. */
  private def writeLegacyManifest(root: Path, m: TxTable.Manifest): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val node = mapper.createObjectNode()
    node.put("version", m.version)
    node.put("op", m.op)
    node.put("schema", m.schemaJson): Unit
    val arr = node.putArray("files")
    m.files.foreach(arr.add)
    if (m.stats.nonEmpty) {
      val st = node.putObject("stats")
      m.stats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val fo = st.putObject(file)
        cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
          val co = fo.putObject(c)
          co.put("min", cs.min)
          co.put("max", cs.max): Unit
          if (cs.nulls >= 0L) co.put("nulls", cs.nulls): Unit
          if (cs.rows >= 0L) co.put("rows", cs.rows): Unit
        }
      }
    }
    if (m.blooms.nonEmpty) {
      val bl = node.putObject("blooms")
      m.blooms.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val fo = bl.putObject(file)
        cols.toSeq.sortBy(_._1).foreach { case (c, b) =>
          val co = fo.putObject(c)
          val buf = java.nio.ByteBuffer.allocate(b.words.length * 8)
          buf.order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.words.foreach(buf.putLong(_): Unit)
          co.put("b64",
            java.util.Base64.getEncoder.encodeToString(buf.array()))
          co.put("k", b.k)
          co.put("str", b.isString): Unit
        }
      }
    }
    Files.write(root.resolve("_txlog").resolve(f"v${m.version}%05d.json"),
      mapper.writeValueAsBytes(node)): Unit
  }
}
