package graft

import java.nio.file.Files

import org.apache.spark.sql.Row


import graft.sources.{TxCatalog, TxTable}

/** The DSv2 TxCatalog: SQL name resolution, VERSION/TIMESTAMP time
  * travel, pushdown reaching the delegated parquet scan, and the loud
  * read-only contract. */
class TxCatalogSpec extends SparkSpec {

  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("txcat-spec-").toString
    import spark.implicits._
    val t1 = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("id", "s", "v")
    val t2 = Seq((3L, "c", 30.0)).toDF("id", "s", "v")
    TxTable.commit(t1, s"$wh/db/t", "overwrite")   // v1
    TxTable.commit(t2, s"$wh/db/t", "append")      // v2
    TxTable.commit(t2, s"$wh/db/t", "overwrite")   // v3
    TxCatalog.register(spark, "txspec", wh)
    wh
  }

  test("latest snapshot resolves through pure SQL") {
    warehouse
    val got = spark.sql("SELECT id, s, v FROM txspec.db.t ORDER BY id").collect()
    assert(got.toSeq == Seq(Row(3L, "c", 30.0)))
  }

  test("VERSION AS OF reads each committed snapshot") {
    warehouse
    def ids(v: Int) = spark.sql(
      s"SELECT id FROM txspec.db.t VERSION AS OF $v ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(ids(1) == Seq(1L, 2L))
    assert(ids(2) == Seq(1L, 2L, 3L))
    assert(ids(3) == Seq(3L))
  }

  test("TIMESTAMP AS OF resolves to the newest version published by then") {
    warehouse
    // far future → latest; manifest mtimes are in the past
    val got = spark.sql(
      "SELECT id FROM txspec.db.t TIMESTAMP AS OF '2999-01-01 00:00:00'")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(3L))
    val e = intercept[Exception] {
      spark.sql(
        "SELECT id FROM txspec.db.t TIMESTAMP AS OF '1990-01-01 00:00:00'")
        .collect()
    }
    assert(e.getMessage.contains("no version"))
  }

  test("SQL and Scala API agree on every version") {
    warehouse
    (1 to 3).foreach { v =>
      val sql = spark.sql(
        s"SELECT id, s, v FROM txspec.db.t VERSION AS OF $v ORDER BY id")
        .collect().toSeq
      val api = TxTable.readVersion(spark, s"$warehouse/db/t", v.toLong)
        .orderBy("id").collect().toSeq
      assert(sql == api, s"version $v disagrees")
    }
  }

  test("filter pushdown reaches the delegated parquet scan") {
    warehouse
    val df = spark.sql("SELECT id FROM txspec.db.t VERSION AS OF 1 WHERE id = 2")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [EqualTo(id,2)]") ||
      plan.contains("PushedFilters: [IsNotNull(id), EqualTo(id,2)]"),
      s"expected pushed filters in:\n$plan")
    assert(df.collect().map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("whole-table COUNT/MIN/MAX answer from parquet footers") {
    warehouse
    val df = spark.sql("SELECT count(*), min(id), max(id) FROM txspec.db.t")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT"),
      s"expected a pushed aggregation in:\n$plan")
    val r = df.head() // v3 head snapshot: the single (3, "c", 30.0) row
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (1L, 3L, 3L))
    // time travel composes: v1 holds ids 1, 2
    val tt = spark.sql(
      "SELECT count(*), max(id) FROM txspec.db.t VERSION AS OF 1")
    assert(tt.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [COUNT"))
    assert((tt.head().getLong(0), tt.head().getLong(1)) == (2L, 2L))
    // a FILTERED aggregate must NOT push (our filters are residual by
    // contract — a footer count cannot apply them)
    val f = spark.sql(
      "SELECT count(*) FROM txspec.db.t VERSION AS OF 1 WHERE id > 1")
    assert(!f.queryExecution.executedPlan.toString
      .contains("PushedAggregation: [COUNT"))
    assert(f.head().getLong(0) == 1L)
  }

  test("PARTITIONED tables push global data-column aggregates to footers") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txagg-part-").toString
    TxCatalog.register(spark, "txap", wh)
    graft.sources.TxTable.commit(
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L))
        .toDF("id", "grp", "n"),
      s"$wh/db/p", "overwrite", partitionBy = Some(Seq("grp")))
    graft.sources.TxTable.commit(
      Seq((4L, "c", 40L)).toDF("id", "grp", "n"),
      s"$wh/db/p", "append")
    // global COUNT/MIN/MAX over DATA columns: one delegated footer
    // builder over every file's data schema — grouping is irrelevant
    val df = spark.sql(
      "SELECT count(*), min(id), max(n) FROM txap.db.p")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedAggregation: [COUNT"),
      s"expected a pushed aggregation in:\n$plan")
    val r = df.head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == (4L, 1L, 40L))
    // an aggregate touching the PARTITION column cannot answer from
    // file bytes — falls back to the scan, same (correct) answer
    val p = spark.sql("SELECT count(*), max(grp) FROM txap.db.p")
    assert(!p.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert((p.head().getLong(0), p.head().getString(1)) == (4L, "c"))
    // grouped aggregates fall back too
    val g = spark.sql(
      "SELECT grp, count(*) AS c FROM txap.db.p GROUP BY grp")
    assert(!g.queryExecution.executedPlan.toString
      .contains("PushedAggregation"))
    assert(g.collect().map(x => (x.getString(0), x.getLong(1))).toMap ==
      Map("a" -> 2L, "b" -> 1L, "c" -> 1L))
  }

  test("a DV-bearing snapshot refuses the plain scan when DvReadRule is absent") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txdv-guard-").toString
    val dir = s"$wh/db/g"
    graft.sources.TxTable.commit(
      Seq((1L, 10L), (2L, 20L)).toDF("id", "n"), dir, "overwrite",
      properties = Map(graft.sources.TxTable.DvProperty -> "true"))
    graft.sources.TxTable.deleteWhereMor(spark, dir,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 1L))): Unit
    // the raw table handle (what a session WITHOUT GraftExtensions
    // plans against): planning surfaces still work (row-level commands
    // build-but-never-run such scans), but EXECUTING the plain scan
    // would resurrect the deleted row — toBatch must trip the
    // missing-rule guard loudly
    val cat = new graft.sources.TxCatalog
    cat.initialize("guardcat",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap(
        java.util.Map.of("root", wh)))
    val tbl = cat.loadTable(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "g"))
    val scan = tbl.asInstanceOf[
        org.apache.spark.sql.connector.catalog.SupportsRead]
      .newScanBuilder(org.apache.spark.sql.util.CaseInsensitiveStringMap
        .empty()).build()
    assert(scan.readSchema().fieldNames.toSeq == Seq("id", "n")) // plans
    val e = intercept[IllegalStateException](scan.toBatch)
    assert(e.getMessage.contains("GraftExtensions"), e.getMessage)
    // the registered session (this suite's) still reads it fine through
    // DvReadRule's swap — the guard never fires on the supported path
    TxCatalog.register(spark, "txgd", wh)
    assert(spark.sql("SELECT id FROM txgd.db.g").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
  }

  test("missing table and vacuumed/unknown version fail loudly") {
    warehouse
    // the catalog's NoSuchTableException surfaces wrapped in Spark's
    // analysis error (TABLE_OR_VIEW_NOT_FOUND)
    val missing = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM txspec.db.nope").collect()
    }
    assert(missing.getMessage.contains("nope"))
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM txspec.db.t VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("version 99"))
  }

  test("CREATE + INSERT route through the commit protocol") {
    warehouse
    spark.sql("CREATE TABLE txspec.db.t2 (id BIGINT, s STRING)")
    // v1 is the empty snapshot of the declared schema
    assert(spark.sql("SELECT * FROM txspec.db.t2").count() == 0L)
    spark.sql("INSERT INTO txspec.db.t2 VALUES (1, 'a'), (2, 'b')")
    spark.sql("INSERT INTO txspec.db.t2 VALUES (3, 'c')")
    assert(spark.sql("SELECT id FROM txspec.db.t2 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    spark.sql("INSERT OVERWRITE txspec.db.t2 VALUES (9, 'z')")
    assert(spark.sql("SELECT id, s FROM txspec.db.t2").collect().toSeq ==
      Seq(Row(9L, "z")))
    // every SQL write is a manifest commit: create + 2 appends + overwrite
    assert(TxTable.history(s"$warehouse/db/t2").map(_._2) ==
      Seq("create", "append", "append", "overwrite"))
    // and time travel sees each SQL-committed version
    assert(spark.sql("SELECT id FROM txspec.db.t2 VERSION AS OF 3 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // duplicate CREATE fails as already-exists
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("CREATE TABLE txspec.db.t2 (id BIGINT)")
    }
    // identity PARTITIONED BY is a supported layout since r16
    // (TxPartitionedSpec owns its semantics); the v1 manifest records it
    spark.sql(
      "CREATE TABLE txspec.db.t3 (id BIGINT, p STRING) PARTITIONED BY (p)")
    assert(TxTable.readManifest(
      java.nio.file.Paths.get(s"$warehouse/db/t3"), 1L)
      .partitionColumns == Seq("p"))
    // bucket is a SUPPORTED hidden-partitioning transform since r18
    // (TxTransformSpec owns its semantics); UNSUPPORTED transforms
    // still refuse, not silently ignore
    spark.sql(
      "CREATE TABLE txspec.db.t4 (id BIGINT, p STRING) " +
        "PARTITIONED BY (bucket(4, id))")
    assert(TxTable.readManifest(
        java.nio.file.Paths.get(s"$warehouse/db/t4"), 1L)
      .partitionTransforms == Map("id_bucket" -> "bucket[4](id)"))
    // hours is a SUPPORTED time-grain transform since r19
    spark.sql(
      "CREATE TABLE txspec.db.t5 (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (hours(ts))")
    assert(TxTable.readManifest(
        java.nio.file.Paths.get(s"$warehouse/db/t5"), 1L)
      .partitionTransforms == Map("ts_hour" -> "hours(ts)"))
    val ep = intercept[Exception] {
      spark.sql(
        "CREATE TABLE txspec.db.t6 (id BIGINT, ts TIMESTAMP) " +
          "PARTITIONED BY (foo(ts))")
    }
    assert(ep.getMessage.contains("unsupported"), ep.getMessage)
  }

  test("CREATE racing an out-of-band v1 commit refuses, never truncates") {
    warehouse
    import spark.implicits._
    // model the TOCTOU: the existence check already passed (table absent)
    // and v1 lands out of band before CREATE's empty commit — the
    // requireVersion guard must refuse instead of publishing an empty v2
    // overwrite on top of the freshly-committed data
    TxTable.commit(Seq((1L, "live")).toDF("id", "s"),
      s"$warehouse/db/race", "overwrite")
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("CREATE TABLE txspec.db.race (id BIGINT, s STRING)")
    }
    // the data survived and no extra version appeared
    assert(TxTable.history(s"$warehouse/db/race").map(_._1) == Seq(1L))
    assert(spark.sql("SELECT s FROM txspec.db.race").head().getString(0)
      == "live")
  }

  test("DROP and unsupported ALTER arms stay refused loudly") {
    warehouse
    val e3 = intercept[Exception] {
      spark.sql("DROP TABLE txspec.db.t")
    }
    assert(e3.getMessage.contains("vacuum"))
    // ADD/DROP/RENAME COLUMN and check./tx. properties are supported
    // arms now (TxEvolveSpec/TxConstraintSpec/TxDvSpec/TxRenameSpec);
    // everything else — comments, type changes — still refuses, with
    // the table untouched
    val e4 = intercept[Exception] {
      spark.sql("ALTER TABLE txspec.db.t ALTER COLUMN s COMMENT 'x'")
    }
    assert(e4.getMessage.contains("ALTER TABLE") ||
      e4.getMessage.contains("TxTable.commit"))
  }

  test("$history and $files metadata tables expose the manifest log to SQL") {
    warehouse
    val hist = spark.sql(
      "SELECT version, op, n_files FROM txspec.db.`t$history` ORDER BY version")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(hist.map(h => (h._1, h._2)) ==
      Seq((1L, "overwrite"), (2L, "append"), (3L, "overwrite")))
    assert(hist(1)._3 > hist(0)._3) // the append carries v1's files + new
    // published_at is real and non-decreasing across versions
    val ts = spark.sql(
      "SELECT published_at FROM txspec.db.`t$history` ORDER BY version")
      .collect().map(_.getTimestamp(0).getTime)
    assert(ts.sorted.toSeq == ts.toSeq)
    // $files lists the LATEST snapshot's inventory with real sizes
    val files = spark.sql(
      "SELECT version, file, bytes FROM txspec.db.`t$files`")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(files.nonEmpty && files.forall(_._1 == 3L))
    assert(files.forall(f => f._2.endsWith(".parquet") && f._3 > 0L))
    // a LocalScan plan: driver metadata, no file source in sight
    val plan = spark.sql("SELECT * FROM txspec.db.`t$history`")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("LocalScan"),
      plan.take(500))
    // metadata suffix on a missing base table still fails loudly
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM txspec.db.`nope$history`").collect()
    }
  }

  test("$partitions metadata table: per-value file/row/byte census") {
    warehouse
    // a flat table reports one '{}' partition covering the snapshot
    val flat = spark.sql(
      "SELECT part, n_files, n_rows, bytes FROM txspec.db.`t$partitions`")
      .collect()
    assert(flat.length == 1 && flat(0).getString(0) == "{}")
    assert(flat(0).getLong(1) >= 1L && flat(0).getLong(3) > 0L)
    // a partitioned table reports one row per live value tuple, with
    // rows summed from the manifest's per-file stats
    val dir = java.nio.file.Files
      .createTempDirectory("graft-pmeta-").toString
    import spark.implicits._
    TxTable.commit(
      Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "p")
        .repartition(4, org.apache.spark.sql.functions.col("p")),
      s"$warehouse/db/pm", "overwrite", partitionBy = Some(Seq("p")))
    val rows = spark.sql(
      "SELECT part, n_files, n_rows FROM txspec.db.`pm$partitions` " +
        "ORDER BY part").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq(("{p=a}", 1L, 2L), ("{p=b}", 1L, 1L)), rows)
    // LocalScan: driver metadata, never a distributed job
    val plan = spark.sql("SELECT * FROM txspec.db.`pm$partitions`")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") || plan.contains("LocalScan"),
      plan.take(500))
    java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(dir)): Unit
  }

  test("CALL system.compact / system.vacuum run the maintenance ops from SQL") {
    warehouse
    // a fresh fragmented table: many tiny commits -> many small files
    val dir = s"$warehouse/db/frag"
    import spark.implicits._
    (1L to 5L).foreach { i =>
      TxTable.commit(Seq((i, s"row$i")).toDF("id", "s"), dir,
        if (i == 1) "overwrite" else "append")
    }
    val before = spark.sql(
      "SELECT count(*) FROM txspec.db.`frag$files`").head().getLong(0)
    assert(before >= 5L)
    val newV = spark.sql(
      "CALL txspec.system.compact('db.frag', 1048576)").head().getLong(0)
    assert(newV == 6L)
    // content identical, inventory collapsed to one file
    assert(spark.sql("SELECT id FROM txspec.db.frag ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == (1L to 5L))
    assert(spark.sql("SELECT count(*) FROM txspec.db.`frag$files`")
      .head().getLong(0) == 1L)
    // vacuum keeping ONLY the compacted overwrite: v1..v5 expire and the
    // five pre-compaction files (referenced by no retained manifest any
    // more) are reclaimed — retain=2 would delete nothing, since v5
    // still lists every original file (append shares files)
    val vac = spark.sql(
      "CALL txspec.system.vacuum('db.frag', 1, 0)").head()
    assert(vac.getString(0).split(",").length == 5) // v1..v5 expired
    assert(vac.getLong(1) >= 5L, s"deleted ${vac.getLong(1)} files")
    assert(vac.getLong(2) > 0L)
    assert(spark.sql("SELECT count(*) FROM txspec.db.`frag$history`")
      .head().getLong(0) == 1L)
    assert(spark.sql("SELECT id FROM txspec.db.frag ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == (1L to 5L))
    // unknown procedure and non-table args fail loudly
    intercept[Exception] {
      spark.sql("CALL txspec.system.nope('db.frag')").collect()
    }
    intercept[Exception] {
      spark.sql("CALL txspec.system.compact('db.missing', 1048576)").collect()
    }
  }

  test("manifest stats skip provably-excluded files before any open") {
    warehouse
    import spark.implicits._
    val dir = s"$warehouse/db/ranges"
    // three single-file commits with DISJOINT id ranges — the layout a
    // time-ordered ingest naturally produces
    Seq((1L, 100L), (101L, 200L), (201L, 300L)).zipWithIndex.foreach {
      case ((lo, hi), i) =>
        TxTable.commit(
          (lo to hi).map(x => (x, s"v$x", x * 1.5)).toDF("id", "s", "v")
            .coalesce(1),
          dir, if (i == 0) "overwrite" else "append")
    }
    def planOf(sql: String) = spark.sql(sql).queryExecution.executedPlan.toString
    // a point lookup provably lives in ONE file: the other two are
    // skipped before the parquet table is even built
    val p1 = planOf("SELECT s FROM txspec.db.ranges WHERE id = 150")
    assert(p1.contains("InMemoryFileIndex(1 paths)"), p1.take(900))
    // a range over two commits keeps exactly those two files
    val p2 = planOf("SELECT s FROM txspec.db.ranges WHERE id > 120 AND id <= 250")
    assert(p2.contains("InMemoryFileIndex(2 paths)"), p2.take(900))
    // an unfilterable predicate keeps everything
    val p3 = planOf("SELECT s FROM txspec.db.ranges WHERE s LIKE 'v%'")
    assert(p3.contains("InMemoryFileIndex(3 paths)"), p3.take(900))
    // and results are IDENTICAL to the unskipped read — the only
    // contract that matters
    val got = spark.sql(
      "SELECT id FROM txspec.db.ranges WHERE id = 150 OR id = 250 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq
    assert(got == Seq(150L, 250L))
    // double-column skipping too (v = id * 1.5)
    val p4 = planOf("SELECT id FROM txspec.db.ranges WHERE v < 100.0")
    assert(p4.contains("InMemoryFileIndex(1 paths)"), p4.take(900))
    // boundary values are NEVER skipped away (min/max are inclusive)
    assert(spark.sql("SELECT count(*) FROM txspec.db.ranges WHERE id = 100")
      .head().getLong(0) == 1L)
    assert(spark.sql("SELECT count(*) FROM txspec.db.ranges WHERE id = 101")
      .head().getLong(0) == 1L)
  }

  test("bloom skipping prunes point lookups where min/max is useless") {
    warehouse
    import spark.implicits._
    val dir = s"$warehouse/db/uuids"
    // hash-like string keys INTERLEAVED across files: every file spans
    // nearly the whole lexicographic range, so min/max can prune nothing
    // — exactly the layout ids/uuids/digests produce
    def key(i: Long) = f"k${(i * 2654435761L) % 100000}%05d"
    (0 until 3).foreach { c =>
      val rows = (0 until 200).map(j => (c * 1000L + j, key(c * 1000L + j)))
      TxTable.commit(rows.toDF("id", "uid").coalesce(1), dir,
        if (c == 0) "overwrite" else "append",
        bloomColumns = Seq("uid"))
    }
    def planOf(sql: String) = spark.sql(sql).queryExecution.executedPlan.toString
    // a key committed in file 2 only: blooms exclude the other two files
    val probe = key(1005L)
    val p = planOf(s"SELECT id FROM txspec.db.uuids WHERE uid = '$probe'")
    assert(p.contains("InMemoryFileIndex(1 paths)"), p.take(900))
    assert(spark.sql(
        s"SELECT id FROM txspec.db.uuids WHERE uid = '$probe'")
      .collect().map(_.getLong(0)).toSeq == Seq(1005L))
    // a key in NO file: every bloom excludes, zero files scanned
    val p0 = planOf("SELECT id FROM txspec.db.uuids WHERE uid = 'nope'")
    assert(p0.contains("InMemoryFileIndex(0 paths)"), p0.take(900))
    assert(spark.sql(
      "SELECT id FROM txspec.db.uuids WHERE uid = 'nope'").count() == 0L)
    // every committed key still found (no false negatives, ever)
    val missing = (0 until 3).flatMap(c => Seq(c * 1000L, c * 1000L + 199L))
      .filterNot { i =>
        spark.sql(s"SELECT id FROM txspec.db.uuids WHERE uid = '${key(i)}'")
          .collect().map(_.getLong(0)).contains(i)
      }
    assert(missing.isEmpty, s"lost keys: $missing")
    // blooms survive compaction (coverage rebuilt over rewritten files)
    spark.sql("CALL txspec.system.compact('db.uuids', 1048576)").collect()
    assert(spark.sql(
        s"SELECT id FROM txspec.db.uuids WHERE uid = '$probe'")
      .collect().map(_.getLong(0)).toSeq == Seq(1005L))
    val pc = planOf("SELECT id FROM txspec.db.uuids WHERE uid = 'nope'")
    assert(pc.contains("InMemoryFileIndex(0 paths)"), pc.take(900))
  }

  test("skipping is differentially invisible on random filters") {
    warehouse
    import spark.implicits._
    val dir = s"$warehouse/db/randskip"
    val rnd = new scala.util.Random(23L)
    (0 until 4).foreach { i =>
      val rows = Seq.fill(50)((rnd.nextInt(1000).toLong,
        ('a' + rnd.nextInt(26)).toChar.toString * 3))
      TxTable.commit(rows.toDF("id", "s").coalesce(1), dir,
        if (i == 0) "overwrite" else "append")
    }
    val preds = Seq("id = 17", "id > 500", "id <= 3", "id >= 999",
      "s = 'mmm'", "s < 'ddd'", "id > 100 AND id < 200",
      "id IN (5, 500, 995)", "id > 400 OR s = 'zzz'")
    preds.foreach { p =>
      val viaCatalog = spark.sql(
        s"SELECT id, s FROM txspec.db.randskip WHERE $p ORDER BY id, s")
        .collect().toSeq
      val direct = TxTable.read(spark, dir).where(p)
        .orderBy("id", "s").collect().toSeq
      assert(viaCatalog == direct, s"predicate '$p' diverged")
    }
  }

  test("timestamp/date stats prune raw ranges at planning, differentially invisible") {
    warehouse
    import spark.implicits._
    val dir = s"$warehouse/db/tsskip"
    // four one-day files with disjoint ts extents + a date column —
    // committed through the tx write path, which pins INT64-micros
    // parquet timestamps so the footers carry usable min/max (r20)
    val base = java.time.LocalDate.of(2024, 3, 1)
    (0 until 4).foreach { i =>
      val day = base.plusDays(i.toLong)
      val start = day.atStartOfDay(java.time.ZoneOffset.UTC).toInstant
      val rows = (0 until 48).map { k =>
        (i * 100L + k,
          java.sql.Timestamp.from(start.plusSeconds(k * 1800L)),
          java.sql.Date.valueOf(day))
      }
      TxTable.commit(rows.toDF("id", "ts", "d").coalesce(1), dir,
        if (i == 0) "overwrite" else "append")
    }
    def planOf(sql: String) =
      spark.sql(sql).queryExecution.executedPlan.toString
    // a raw one-day ts window proves out 3 of 4 files at planning —
    // no days(ts) relayout, pure epoch-micros min/max arithmetic
    val pTs = planOf("SELECT id FROM txspec.db.tsskip WHERE " +
      "ts >= TIMESTAMP '2024-03-02 00:00:00' AND " +
      "ts < TIMESTAMP '2024-03-03 00:00:00'")
    assert(pTs.contains("InMemoryFileIndex(1 paths)"), pTs.take(900))
    // a date equality keeps exactly its file (epoch-days stats)
    val pD = planOf(
      "SELECT id FROM txspec.db.tsskip WHERE d = DATE '2024-03-04'")
    assert(pD.contains("InMemoryFileIndex(1 paths)"), pD.take(900))
    // a window before all data scans ZERO files
    val p0 = planOf("SELECT id FROM txspec.db.tsskip WHERE " +
      "ts < TIMESTAMP '2024-02-01 00:00:00'")
    assert(p0.contains("InMemoryFileIndex(0 paths)"), p0.take(900))
    // differential invisibility on sliding windows (boundary instants
    // included): the pruned catalog scan answers exactly the unpruned
    // direct read, row for row
    val preds = Seq(
      "ts >= TIMESTAMP '2024-03-01 12:00:00' AND " +
        "ts < TIMESTAMP '2024-03-03 12:00:00'",
      "ts = TIMESTAMP '2024-03-02 00:00:00'",
      "ts > TIMESTAMP '2024-03-04 23:30:00'",
      "ts <= TIMESTAMP '2024-03-01 00:00:00'",
      "d = DATE '2024-03-03'", "d > DATE '2024-03-02'",
      "d >= DATE '2024-03-01' AND d < DATE '2024-03-02'",
      "d IN (DATE '2024-03-01', DATE '2024-03-04')")
    preds.foreach { p =>
      val viaCatalog = spark.sql(
        s"SELECT id FROM txspec.db.tsskip WHERE $p ORDER BY id")
        .collect().map(_.getLong(0)).toSeq
      val direct = TxTable.read(spark, dir).where(p)
        .select("id").orderBy("id").collect().map(_.getLong(0)).toSeq
      assert(viaCatalog == direct, s"predicate '$p' diverged")
    }
  }

  test("CALL system.clone: zero-copy reference, independent evolution, safe own vacuum") {
    warehouse
    import spark.implicits._
    val src = s"$warehouse/db/clsrc"
    val dst = s"$warehouse/db/cldst"
    TxTable.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "s"), src,
      "overwrite")
    TxTable.commit(Seq((3L, "c")).toDF("id", "s"), src, "append")
    assert(spark.sql("CALL txspec.system.clone('db.clsrc', 'db.cldst')")
      .head().getLong(0) == 1L)
    // clone reads == source at clone time, through pure SQL
    assert(spark.sql("SELECT id FROM txspec.db.cldst ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // ZERO data files copied: the clone root holds only its log
    assert(!Files.exists(java.nio.file.Paths.get(s"$dst/data")),
      "clone materialized data files — it must be metadata-only")
    val m = TxTable.readManifest(java.nio.file.Paths.get(dst), 1L)
    assert(m.files.nonEmpty && m.files.forall(f =>
      java.nio.file.Paths.get(f).isAbsolute && f.contains("/clsrc/")),
      s"clone must reference the source's files absolutely: ${m.files}")
    assert(m.stats.nonEmpty, "stats must carry — day-one skipping")
    assert(TxTable.history(dst).map(_._2) == Seq("clone"))
    // carried stats prune: a value outside every file's range plans to
    // zero files on the CLONE
    val p = spark.sql("SELECT s FROM txspec.db.cldst WHERE id = 99")
      .queryExecution.executedPlan.toString
    assert(p.contains("InMemoryFileIndex(0 paths)"), p.take(600))
    // independent evolution: the clone appends locally, source untouched
    spark.sql("INSERT INTO txspec.db.cldst VALUES (9, 'z')")
    assert(spark.sql("SELECT count(*) FROM txspec.db.cldst")
      .head().getLong(0) == 4L)
    assert(spark.sql("SELECT count(*) FROM txspec.db.clsrc")
      .head().getLong(0) == 3L)
    assert(TxTable.latestVersion(src).contains(2L),
      "the clone's commit leaked into the source's log")
    // version-pinned clone
    assert(spark.sql(
        "CALL txspec.system.clone('db.clsrc', 'db.cldst1', 1)")
      .head().getLong(0) == 1L)
    assert(spark.sql("SELECT id FROM txspec.db.cldst1 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L))
    // the clone's OWN vacuum walks only its own data/: after the clone
    // overwrites (dereferencing every source file), vacuum reclaims
    // nothing foreign — the source still reads perfectly
    spark.sql("INSERT OVERWRITE txspec.db.cldst1 VALUES (7, 'q')")
    TxTable.vacuum(s"$warehouse/db/cldst1", retain = 1,
      minAgeMillis = 0L): Unit
    assert(spark.sql("SELECT id FROM txspec.db.clsrc ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L),
      "the clone's vacuum deleted source bytes")
    // an existing target refuses; a DV-bearing snapshot refuses
    intercept[Exception] {
      spark.sql("CALL txspec.system.clone('db.clsrc', 'db.cldst')")
        .collect()
    }
  }

  test("tags: VERSION AS OF a name, vacuum pin, t$refs, immutability") {
    warehouse
    import spark.implicits._
    val dir = s"$warehouse/db/tg"
    TxTable.commit(Seq((1L, "one")).toDF("id", "s"), dir, "overwrite")
    TxTable.commit(Seq((2L, "two")).toDF("id", "s"), dir, "overwrite")
    TxTable.commit(Seq((3L, "three")).toDF("id", "s"), dir, "overwrite")
    spark.sql("CALL txspec.system.tag('db.tg', 'baseline', 2)").collect()
    // SQL time travel resolves the NAME (the Iceberg ref surface)
    assert(spark.sql(
        "SELECT s FROM txspec.db.tg VERSION AS OF 'baseline'")
      .head().getString(0) == "two")
    // t$refs reports the pin
    assert(spark.sql("SELECT name, version FROM txspec.db.`tg$refs`")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("baseline", 2L)))
    // vacuum never crosses the tag: retain=1 alone would expire v1+v2
    val st = TxTable.vacuum(dir, retain = 1, minAgeMillis = 0L)
    assert(st.expiredVersions == Seq(1L), st)
    assert(TxTable.versions(dir) == Seq(2L, 3L))
    assert(spark.sql(
        "SELECT s FROM txspec.db.tg VERSION AS OF 'baseline'")
      .head().getString(0) == "two")
    // tags are immutable; unknown names refuse loudly
    intercept[Exception](spark.sql(
      "CALL txspec.system.tag('db.tg', 'baseline', 3)").collect())
    intercept[Exception](spark.sql(
      "SELECT s FROM txspec.db.tg VERSION AS OF 'nope'").collect())
    // name validation on BOTH surfaces: a traversal name must never
    // reach the filesystem (dropTag('../v00003') would delete a
    // committed manifest), and an all-digit name could never resolve
    // (VERSION AS OF dispatches integers to version numbers)
    intercept[Exception](spark.sql(
      "CALL txspec.system.drop_tag('db.tg', '../v00003')").collect())
    assert(TxTable.versions(dir).contains(3L),
      "a traversal tag name deleted a manifest")
    intercept[Exception](spark.sql(
      "CALL txspec.system.tag('db.tg', '7', 2)").collect())
    // drop_tag releases the pin — the next vacuum reclaims
    spark.sql("CALL txspec.system.drop_tag('db.tg', 'baseline')").collect()
    val s2 = TxTable.vacuum(dir, retain = 1, minAgeMillis = 0L)
    assert(s2.expiredVersions == Seq(2L), s2)
    assert(TxTable.versions(dir) == Seq(3L))
  }

  test("compacting a partitioned clone LOCALIZES it under clean value dirs") {
    warehouse
    import spark.implicits._
    val src = s"$warehouse/db/clpsrc"
    val dst = s"$warehouse/db/clpdst"
    val rows = (0 until 40).map(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", i * 10L))
    // two commits per value → 4 source files across 2 commit dirs
    TxTable.commit(rows.take(20).toDF("id", "lang", "n").coalesce(1),
      src, "overwrite", partitionBy = Some(Seq("lang")))
    TxTable.commit(rows.drop(20).toDF("id", "lang", "n").coalesce(1),
      src, "append")
    TxTable.cloneSnapshot(src, dst): Unit
    // the clone starts foreign (absolute refs); one compaction merges
    // same-value files across the source's commit dirs into ONE clean
    // local file per value — compaction IS the localization path
    TxTable.compact(spark, dst, targetBytes = 1L << 30)
    val m = TxTable.readManifest(java.nio.file.Paths.get(dst), 2L)
    assert(m.files.nonEmpty && m.files.forall(f =>
        !java.nio.file.Paths.get(f).isAbsolute),
      s"compaction left foreign references: ${m.files}")
    assert(m.files.forall(f => f.matches("data/[^/]+/lang=(en|de)/.*")),
      s"localized files must sit under clean value dirs: ${m.files}")
    assert(m.files.size == 2, s"one file per value expected: ${m.files}")
    // rows identical, partition pruning intact, source untouched
    assert(spark.sql("SELECT sum(n) FROM txspec.db.clpdst")
      .head().getLong(0) == rows.map(_._3).sum)
    val p = spark.sql(
        "SELECT id FROM txspec.db.clpdst WHERE lang = 'en'")
      .queryExecution.executedPlan.toString
    assert(p.contains("skipped=1/2"), p.take(600))
    assert(TxTable.latestVersion(src).contains(2L))
    assert(spark.sql("SELECT count(*) FROM txspec.db.clpsrc")
      .head().getLong(0) == 40L)
    // post-localization, the clone's vacuum is free to reclaim — and
    // still cannot touch the source's bytes (nothing foreign under its
    // own data/)
    TxTable.vacuum(dst, retain = 1, minAgeMillis = 0L): Unit
    assert(spark.sql("SELECT count(*) FROM txspec.db.clpsrc")
      .head().getLong(0) == 40L)
  }

  test("CALL system.restore rolls back as a new version; $stats introspects skipping") {
    warehouse
    import spark.implicits._
    val dir = s"$warehouse/db/rb"
    TxTable.commit(Seq((1L, "keep")).toDF("id", "s"), dir, "overwrite",
      bloomColumns = Seq("s"))
    TxTable.commit(Seq((2L, "oops")).toDF("id", "s"), dir, "overwrite")
    // bad deploy overwrote the table; RESTORE commits v1's snapshot as v3
    val newV = spark.sql("CALL txspec.system.restore('db.rb', 1)")
      .head().getLong(0)
    assert(newV == 3L)
    assert(spark.sql("SELECT s FROM txspec.db.rb").head().getString(0)
      == "keep")
    // append-only history: the bad version is still time-travelable
    assert(spark.sql("SELECT s FROM txspec.db.rb VERSION AS OF 2")
      .head().getString(0) == "oops")
    assert(TxTable.history(dir).map(_._2) ==
      Seq("overwrite", "overwrite", "restore"))
    // the restored head carries v1's stats AND blooms: $stats shows the
    // bloom'd column, and a point lookup on an absent key scans 0 files
    val stats = spark.sql(
      "SELECT column, min, max, has_bloom FROM txspec.db.`rb$stats`")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getBoolean(3))).toSeq
    assert(stats.contains(("id", "1", "1", false)), stats)
    assert(stats.exists(s => s._1 == "s" && s._4), stats)
    val plan = spark.sql(
      "SELECT id FROM txspec.db.rb WHERE s = 'absent'")
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryFileIndex(0 paths)"), plan.take(600))
    // restoring a vacuumed/unknown version fails loudly
    intercept[Exception] {
      spark.sql("CALL txspec.system.restore('db.rb', 99)").collect()
    }
  }

  test("atomic CTAS / RTAS stage through the commit protocol") {
    warehouse
    spark.sql(
      """CREATE TABLE txspec.db.ctas AS
        |SELECT id, s, v FROM txspec.db.t VERSION AS OF 2""".stripMargin)
    assert(spark.sql("SELECT id FROM txspec.db.ctas ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L))
    // one atomic version: the query output IS v1, no create-then-append
    assert(TxTable.history(s"$warehouse/db/ctas") == Seq((1L, "create")))
    // stats staged with the files: skipping works on the CTAS output
    val plan = spark.sql(
      "SELECT s FROM txspec.db.ctas WHERE id = 99")
      .queryExecution.executedPlan.toString
    assert(plan.contains("InMemoryFileIndex(0 paths)"), plan.take(600))
    // CTAS over an existing name refuses (and stages nothing visible)
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("CREATE TABLE txspec.db.ctas AS SELECT 1 AS x")
    }
    assert(TxTable.history(s"$warehouse/db/ctas") == Seq((1L, "create")))
    // RTAS publishes latest+1 as an overwrite; v1 stays time-travelable
    spark.sql(
      "REPLACE TABLE txspec.db.ctas AS SELECT 9L AS id, 'z' AS s, 0.5 AS v")
    assert(spark.sql("SELECT id FROM txspec.db.ctas").head().getLong(0) == 9L)
    assert(spark.sql(
        "SELECT count(*) FROM txspec.db.ctas VERSION AS OF 1")
      .head().getLong(0) == 3L)
    assert(TxTable.history(s"$warehouse/db/ctas").map(_._2) ==
      Seq("create", "replace"))
    // a FAILING CTAS aborts: no table, no half-written state, and not
    // even an empty _txlog skeleton left behind
    intercept[Exception] {
      spark.sql(
        """CREATE TABLE txspec.db.ctasfail AS
          |SELECT CAST(raise_error('boom') AS STRING) AS s
          |FROM txspec.db.t""".stripMargin)
    }
    assert(!TxTable.latestVersion(s"$warehouse/db/ctasfail").isDefined)
    assert(!Files.isDirectory(
      java.nio.file.Paths.get(s"$warehouse/db/ctasfail/_txlog")))
    intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT * FROM txspec.db.ctasfail").collect()
    }
    // CREATE OR REPLACE: creates when absent, replaces when present
    spark.sql("CREATE OR REPLACE TABLE txspec.db.corp AS SELECT 1L AS id")
    assert(TxTable.history(s"$warehouse/db/corp").map(_._2) == Seq("create"))
    spark.sql("CREATE OR REPLACE TABLE txspec.db.corp AS SELECT 2L AS id")
    assert(TxTable.history(s"$warehouse/db/corp").map(_._2) ==
      Seq("create", "replace"))
    assert(spark.sql("SELECT id FROM txspec.db.corp").head().getLong(0) == 2L)
  }

  test("namespace listing sees the table, SHOW TABLES works") {
    warehouse
    val tables = spark.sql("SHOW TABLES IN txspec.db").collect()
      .map(_.getString(1)).toSeq
    assert(tables.contains("t"))
    val ns = spark.sql("SHOW NAMESPACES IN txspec").collect()
      .map(_.getString(0)).toSeq
    assert(ns.contains("db"))
  }

  test("DELETE FROM is a stats-pruned copy-on-write commit") {
    warehouse
    import spark.implicits._
    val tbl = s"$warehouse/db/del"
    // one language per commit => per-file lang stats are min=max=lang
    TxTable.commit(Seq((1L, "en", 5L), (2L, "en", 7L)).toDF("id", "lang", "n"),
      tbl, "overwrite")
    TxTable.commit(Seq((3L, "de", 9L)).toDF("id", "lang", "n"), tbl, "append")
    TxTable.commit(Seq((4L, "fr", 2L)).toDF("id", "lang", "n"), tbl, "append")
    val before = TxTable.readManifest(
      java.nio.file.Paths.get(tbl), 3L)

    // 1. a delete whose predicate provably touches NO file is a pure
    //    no-op: no new version, no rewrite
    spark.sql("DELETE FROM txspec.db.del WHERE lang = 'zz'")
    assert(TxTable.latestVersion(tbl) == Some(3L))

    // 2. the real delete rewrites ONLY the de files: every en/fr file
    //    carries forward under its original name
    spark.sql("DELETE FROM txspec.db.del WHERE lang = 'de'")
    assert(TxTable.latestVersion(tbl) == Some(4L))
    val after = TxTable.readManifest(java.nio.file.Paths.get(tbl), 4L)
    assert(after.op == "delete")
    val enFrFiles = before.files.filter { f =>
      val st = before.stats(f)("lang"); st.min != "de"
    }
    assert(enFrFiles.nonEmpty &&
      enFrFiles.forall(after.files.contains),
      "untouched files must carry forward verbatim")
    // the de rows are gone; everything else intact
    assert(spark.sql("SELECT id FROM txspec.db.del ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 4L))
    // carried files keep their stats entries
    assert(enFrFiles.forall(after.stats.contains))

    // 3. the pre-delete snapshot stays time-travelable
    assert(spark.sql(
        "SELECT id FROM txspec.db.del VERSION AS OF 3 ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 3L, 4L))

    // 4. ANSI NULL semantics: rows where the condition is NULL survive
    TxTable.commit(Seq((5L, Option.empty[String], 1L))
      .toDF("id", "lang", "n"), tbl, "append")
    spark.sql("DELETE FROM txspec.db.del WHERE lang = 'fr'")
    assert(spark.sql("SELECT id FROM txspec.db.del ORDER BY id")
      .collect().map(_.getLong(0)).toSeq == Seq(1L, 2L, 5L))

    // 5. unconditioned DELETE truncates as one more version
    spark.sql("DELETE FROM txspec.db.del")
    assert(spark.sql("SELECT * FROM txspec.db.del").count() == 0L)
    // and history is intact behind it
    assert(spark.sql("SELECT count(*) FROM txspec.db.del VERSION AS OF 4")
      .head().getLong(0) == 3L)
  }
}
