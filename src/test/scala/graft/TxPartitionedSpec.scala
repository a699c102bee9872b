package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.sources.{TxCatalog, TxStats, TxTable}

/** Partition-column layout on the tx table: hive-style commit layout,
  * values recorded as min=max stats (partition pruning IS the skipping
  * layer), typed path round-trips, SQL CREATE ... PARTITIONED BY +
  * INSERT inheritance, and the loud refusals on the compositions the
  * layout does not support yet. */
class TxPartitionedSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("txpart-spec-").toString + "/tbl"

  test("partitioned commit: hive layout, values as stats, pruned reads, inherited appends") {
    val tbl = tmp()
    // lang declared MID-schema: the committed order moves it last
    val v1 = TxTable.commit(
      Seq((1L, "en", 5L), (2L, "de", 7L), (3L, "en", 9L))
        .toDF("id", "lang", "n"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    assert(v1 == 1L)
    val m1 = TxTable.readManifest(Paths.get(tbl), 1L)
    assert(m1.partitionColumns == Seq("lang"))
    // files land under lang=<value> dirs
    assert(m1.files.nonEmpty && m1.files.forall(_.contains("lang=")))
    // the committed schema is partition-last
    assert(org.apache.spark.sql.types.DataType.fromJson(m1.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq == Seq("id", "n", "lang"))
    // every file carries the partition value as a min=max stat
    assert(m1.files.forall { f =>
      m1.stats.get(f).exists(_.get("lang").exists(cs => cs.min == cs.max))
    })
    // a plain append (no partitionBy argument) INHERITS the layout
    val v2 = TxTable.commit(Seq((4L, "fr", 2L)).toDF("id", "lang", "n"),
      tbl, "append")
    assert(v2 == 2L)
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m2.partitionColumns == Seq("lang"))
    // round trip: values come back from the paths, committed order
    val got = TxTable.read(spark, tbl)
      .select("id", "lang", "n").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted.toSeq
    assert(got == Seq((1L, "en", 5L), (2L, "de", 7L), (3L, "en", 9L),
      (4L, "fr", 2L)))
    // partition pruning IS stats pruning: lang='de' excludes en/fr files
    val schema = org.apache.spark.sql.types.DataType.fromJson(m2.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val de = org.apache.spark.sql.sources.EqualTo("lang", "de")
    val kept = m2.files.count { f =>
      !TxStats.excludes(m2.stats.getOrElse(f, Map.empty), schema, de)
    }
    assert(kept < m2.files.size && kept >= 1,
      s"lang=de must prune: kept $kept of ${m2.files.size}")
  }

  test("typed and escaped partition values round-trip; nulls land unprunable") {
    val tbl = tmp()
    TxTable.commit(
      Seq((1L, 10L, "a"), (2L, 20L, "x y%z=w"), (3L, 10L, null))
        .toDF("id", "bucket", "s"),
      tbl, "overwrite", partitionBy = Some(Seq("bucket", "s")))
    val got = TxTable.read(spark, tbl).select("id", "bucket", "s")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getString(2))).sorted.toSeq
    assert(got == Seq((1L, 10L, "a"), (2L, 20L, "x y%z=w"),
      (3L, 10L, null)))
    val m = TxTable.readManifest(Paths.get(tbl), 1L)
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // the escaped value unescapes into its stat entry
    assert(m.files.exists(f =>
      m.stats.get(f).exists(_.get("s").exists(_.min == "x y%z=w"))))
    // long partition stats prune numerically (bucket > 15 keeps only 20)
    val gt = org.apache.spark.sql.sources.GreaterThan("bucket", 15L)
    val kept = m.files.filter { f =>
      !TxStats.excludes(m.stats.getOrElse(f, Map.empty), schema, gt)
    }
    assert(kept.forall(_.contains("bucket=20")) && kept.nonEmpty)
    // the null-partition file has no 's' stat — never pruned on s
    val nullFile = m.files.find(_.contains("__HIVE_DEFAULT_PARTITION__"))
    assert(nullFile.isDefined)
    assert(!m.stats.get(nullFile.get).exists(_.contains("s")))
  }

  test("SQL: CREATE PARTITIONED BY + INSERT inherit the layout and prune scans") {
    val wh = Files.createTempDirectory("txpart-sql-").toString
    TxCatalog.register(spark, "txpart", wh)
    spark.sql("CREATE TABLE txpart.db.pt (id BIGINT, lang STRING, " +
      "n BIGINT) PARTITIONED BY (lang)")
    assert(TxTable.readManifest(Paths.get(s"$wh/db/pt"), 1L)
      .partitionColumns == Seq("lang"))
    // the committed order is partition-last (hive convention), so SQL
    // INSERT positions are (id, n, lang)
    spark.sql("INSERT INTO txpart.db.pt VALUES (1, 5, 'en'), (2, 7, 'de')")
    spark.sql("INSERT INTO txpart.db.pt VALUES (3, 2, 'fr')")
    val m = TxTable.readManifest(Paths.get(s"$wh/db/pt"), 3L)
    assert(m.partitionColumns == Seq("lang") &&
      m.files.forall(_.contains("lang=")))
    // the partition-pruned scan: only the de file survives the skip
    val q = spark.sql(
      "SELECT id, n FROM txpart.db.pt WHERE lang = 'de' ORDER BY id")
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("skipped=2/3"),
      s"expected partition pruning in the delegated scan, got:\n$plan")
    assert(q.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((2L, 7L)))
    // full scan returns everything with values from paths
    assert(spark.sql("SELECT sum(n) FROM txpart.db.pt").head().getLong(0)
      == 14L)
    // projection edges: COUNT(*) (zero columns from the inner scan),
    // a partition-column-only projection (empty data projection), and
    // a data-only projection all answer correctly
    assert(spark.sql("SELECT count(*) FROM txpart.db.pt")
      .head().getLong(0) == 3L)
    assert(spark.sql("SELECT lang FROM txpart.db.pt ORDER BY lang")
      .collect().map(_.getString(0)).toSeq == Seq("de", "en", "fr"))
    assert(spark.sql("SELECT sum(id) FROM txpart.db.pt")
      .head().getLong(0) == 6L)
    // an empty partitioned table scans to zero rows, not an error
    spark.sql("CREATE TABLE txpart.db.empty (id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang)")
    assert(spark.sql("SELECT * FROM txpart.db.empty").count() == 0L)
    // bucket (r18) and the time grains (r19) are supported hidden
    // transforms; arbitrary-expression shapes still refuse loudly
    spark.sql(
      "CREATE TABLE txpart.db.pt2 (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (months(ts))")
    assert(TxTable.readManifest(
        java.nio.file.Paths.get(s"$wh/db/pt2"), 1L)
      .partitionTransforms == Map("ts_month" -> "months(ts)"))
    val e = intercept[Exception](spark.sql(
      "CREATE TABLE txpart.db.pt3 (id BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (foo(ts))"))
    assert(e.getMessage.contains("unsupported"), e.getMessage)
  }

  test("optimized writes: a many-task frame stages ONE file per partition value") {
    import spark.implicits._
    // 8 shuffle tasks x 3 values would stage up to 24 files without the
    // pre-shuffle — the small-file amplification that buries a 100 TB
    // daily layout; optimizeWrite (default ON) clusters by value first
    val df = spark.range(0, 240).repartition(8)
      .select(col("id"), (col("id") % 3).cast("string").as("lang"))
    val tbl = tmp()
    TxTable.commit(df, tbl, "overwrite", partitionBy = Some(Seq("lang")))
    val m = TxTable.readManifest(Paths.get(tbl), 1L)
    assert(m.files.size == 3,
      s"expected one staged file per value, got ${m.files.size}")
    assert(TxTable.read(spark, tbl).count() == 240L)
    // appends inherit the discipline
    TxTable.commit(df, tbl, "append")
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m2.files.size == 6, s"got ${m2.files.size}")
    // row-level rewrites restage through the same clustering
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.EqualTo("lang", "1")))
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    assert(m3.files.size <= 4, s"got ${m3.files.size}")
    assert(TxTable.read(spark, tbl).count() == 320L)
    // documented opt-out for pre-clustered producers
    val tbl2 = tmp()
    TxTable.commit(df, tbl2, "overwrite", partitionBy = Some(Seq("lang")),
      properties = Map("tx.optimizeWrite" -> "false"))
    val mOff = TxTable.readManifest(Paths.get(tbl2), 1L)
    assert(mOff.files.size > 3,
      "the opt-out should preserve the producer's task layout")
    assert(TxTable.read(spark, tbl2).count() == 240L)
    // and on a transform layout the DERIVED values cluster the shuffle
    val tbl3 = tmp()
    TxTable.commit(df.select(col("id")), tbl3, "overwrite",
      partitionSpec = Some(Seq(graft.sources.TxTransforms
        .PartitionField("id_bucket", "bucket[4]", "id"))))
    val mT = TxTable.readManifest(Paths.get(tbl3), 1L)
    assert(mT.files.size == 4,
      s"expected one file per bucket, got ${mT.files.size}")
  }

  test("append with a different layout refuses; unsupported compositions refuse") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, "en", 5L)).toDF("id", "lang", "n"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    val df = Seq((2L, "de", 7L)).toDF("id", "lang", "n")
    val e1 = intercept[IllegalArgumentException](
      TxTable.commit(df, tbl, "append", partitionBy = Some(Seq("n"))))
    assert(e1.getMessage.contains("does not match"))
    val e2 = intercept[IllegalArgumentException](
      TxTable.commit(df, tbl, "append", partitionBy = Some(Nil)))
    assert(e2.getMessage.contains("does not match"))
    // mergeSchema + partitioning refuses
    assert(intercept[IllegalArgumentException](
      TxTable.commit(Seq((9L, "en", 1L, true)).toDF("id", "lang", "n", "b"),
        tbl, "append", mergeSchema = true))
      .getMessage.contains("mergeSchema"))
    // bloom on a partition column refuses
    assert(intercept[IllegalArgumentException](
      TxTable.commit(df, tbl, "append", bloomColumns = Seq("lang")))
      .getMessage.contains("bloom"))
    // z-ordering BY a partition column refuses (its layout is its dir)
    assert(intercept[IllegalArgumentException](
      TxTable.compactZOrder(spark, tbl, "lang", "n", 2))
      .getMessage.contains("partition"))
  }

  test("row-level DELETE and SQL UPDATE/MERGE rewrite partitioned tables correctly") {
    val wh = Files.createTempDirectory("txpart-rl-").toString
    TxCatalog.register(spark, "txprl", wh)
    val tbl = s"$wh/db/rl"
    TxTable.commit(
      Seq((1L, "en", 5L), (2L, "de", 7L), (3L, "de", 9L), (4L, "fr", 2L))
        .toDF("id", "lang", "n"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    val before = TxTable.readManifest(Paths.get(tbl), 1L)

    // DELETE with a PARTITION-column predicate: the value stats prune
    // en/fr files to verbatim carry-forward; only de rewrites
    spark.sql("DELETE FROM txprl.db.rl WHERE lang = 'de' AND n > 8")
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    val enFr = before.files.filter(f =>
      f.contains("lang=en") || f.contains("lang=fr"))
    assert(enFr.nonEmpty && enFr.forall(m2.files.contains),
      "partition-pruned files must carry forward verbatim")
    // the rewritten survivors re-land under their value dirs
    assert(m2.files.forall(_.contains("lang=")))
    def rows() = spark.sql(
        "SELECT id, lang, n FROM txprl.db.rl ORDER BY id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(rows() == Seq((1L, "en", 5L), (2L, "de", 7L), (4L, "fr", 2L)))

    // SQL UPDATE mixing data and partition columns in the predicate
    spark.sql("UPDATE txprl.db.rl SET n = n + 100 WHERE lang = 'de'")
    assert(rows() == Seq((1L, "en", 5L), (2L, "de", 107L), (4L, "fr", 2L)))

    // SQL MERGE: matched update + insert, against the partitioned target
    import spark.implicits._
    Seq((1L, "en", 50L), (9L, "zh", 90L)).toDF("id", "lang", "n")
      .createOrReplaceTempView("txprl_src")
    spark.sql(
      """MERGE INTO txprl.db.rl t USING txprl_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET n = s.n
        |WHEN NOT MATCHED THEN INSERT (id, lang, n)
        |VALUES (s.id, s.lang, s.n)""".stripMargin)
    assert(rows() == Seq((1L, "en", 50L), (2L, "de", 107L),
      (4L, "fr", 2L), (9L, "zh", 90L)))
    // the new zh row landed under its own value dir
    assert(TxTable.latestVersion(tbl).exists(v =>
      TxTable.readManifest(Paths.get(tbl), v).files
        .exists(_.contains("lang=zh"))))
  }

  test("compact and compactZOrder preserve partitioned layout and content") {
    val tbl = tmp()
    // three small commits per language -> many tiny files per partition
    (1 to 3).foreach { i =>
      TxTable.commit(
        Seq((i.toLong, "en", i * 10L), (i + 10L, "de", i * 20L))
          .toDF("id", "lang", "n"),
        tbl, if (i == 1) "overwrite" else "append",
        partitionBy = if (i == 1) Some(Seq("lang")) else None,
        bloomColumns = Seq("id"))
    }
    val before = TxTable.readManifest(Paths.get(tbl), 3L)
    def content(v: Long) = TxTable.readVersion(spark, tbl, v)
      .select("id", "lang", "n")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sorted.toSeq
    val pre = content(3L)

    val v4 = TxTable.compact(spark, tbl, targetBytes = 1L << 30)
    assert(v4 == 4L)
    val after = TxTable.readManifest(Paths.get(tbl), 4L)
    assert(after.op == "compact" && after.partitionColumns == Seq("lang"))
    // one file per partition value now, still under value dirs,
    // values still present as stats, blooms rebuilt
    assert(after.files.size < before.files.size)
    assert(after.files.forall(_.contains("lang=")))
    assert(after.files.forall(f =>
      after.stats.get(f).exists(_.contains("lang"))))
    assert(after.files.forall(f =>
      after.blooms.get(f).exists(_.contains("id"))))
    assert(content(4L) == pre)

    // z-order within partitions: content identical, layout preserved
    val v5 = TxTable.compactZOrder(spark, tbl, "id", "n", numFiles = 2,
      bits = 8)
    assert(v5 == 5L)
    val zafter = TxTable.readManifest(Paths.get(tbl), 5L)
    assert(zafter.op == "zorder" &&
      zafter.partitionColumns == Seq("lang"))
    assert(zafter.files.forall(_.contains("lang=")))
    assert(content(5L) == pre)
  }

  test("time travel, diff, and vacuum work on partitioned tables") {
    val tbl = tmp()
    TxTable.commit(Seq((1L, "en", 5L)).toDF("id", "lang", "n"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    TxTable.commit(Seq((2L, "de", 7L)).toDF("id", "lang", "n"),
      tbl, "append")
    TxTable.commit(Seq((3L, "fr", 2L)).toDF("id", "lang", "n"),
      tbl, "overwrite")
    assert(TxTable.readVersion(spark, tbl, 2L).count() == 2L)
    val d = TxTable.diff(spark, tbl, 2L, 3L)
    assert(d.filter(col("change") === "delete").count() == 2L &&
      d.filter(col("change") === "insert").count() == 1L)
    val stats = TxTable.vacuum(tbl, retain = 1, minAgeMillis = 0L)
    assert(stats.expiredVersions == Seq(1L, 2L) &&
      stats.deletedFiles >= 2L)
    // the retained snapshot reads intact after the reclaim
    assert(TxTable.read(spark, tbl).select("id").head().getLong(0) == 3L)
  }

  test("the CDF stream serves partitioned appends with path-derived values") {
    val base = Files.createTempDirectory("txpart-cdf-").toString
    val tbl = s"$base/tbl"
    TxTable.commit(Seq((1L, "en", 5L)).toDF("id", "lang", "n"),
      tbl, "overwrite", partitionBy = Some(Seq("lang")))
    TxTable.commit(Seq((2L, "de", 7L)).toDF("id", "lang", "n"),
      tbl, "append")
    val q = spark.readStream.format("graft-txcdf").option("path", tbl)
      .load()
      .writeStream.format("parquet").option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$base/out")
      .select("_commit_version", "id", "lang", "n").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3)))
      .sorted.toSeq
    assert(got == Seq((1L, 1L, "en", 5L), (2L, 2L, "de", 7L)))
  }

  test("the partitioned scan reports its size: small tables broadcast") {
    import spark.implicits._
    val wh = Files.createTempDirectory("txpart-stat-").toString
    TxCatalog.register(spark, "txpstat", wh)
    spark.sql("CREATE TABLE txpstat.db.dim (id BIGINT, lang STRING) " +
      "PARTITIONED BY (lang)")
    spark.sql("INSERT INTO txpstat.db.dim VALUES (1, 'en'), (2, 'de')")
    // without SupportsReportStatistics this relation sizes at
    // spark.sql.defaultSizeInBytes (huge) and the join sort-merges
    spark.range(0, 10000).select(col("id"))
      .createOrReplaceTempView("txpstat_fact")
    val q = spark.sql(
      """SELECT count(*) FROM txpstat_fact f
        |JOIN txpstat.db.dim d ON f.id = d.id""".stripMargin)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the 2-row dim side to broadcast, got:\n$plan")
    assert(q.head().getLong(0) == 2L)
  }
}
