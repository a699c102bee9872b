package graft

import java.nio.file.{Files, Paths}

import graft.sources.{TxCatalog, TxTable, TxTransforms}
import org.apache.spark.sql.functions._

/** Hidden partitioning (TxTransforms scaladoc): bucket/days/truncate
  * layouts derived from source columns — path values + stats entries
  * only, never schema columns — with predicate projection pruning,
  * SPJ-ready bucket grouping, inheritance through every commit kind,
  * and loud refusals for layout-breaking schema changes. */
class TxTransformSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft-txtr-").toString + "/tbl"

  private val warehouse: String = {
    val wh = Files.createTempDirectory("graft-txtr-wh-").toString
    TxCatalog.register(spark, "txtr", wh)
    Files.createDirectories(Paths.get(s"$wh/db"))
    wh
  }

  private def bucketField(n: Int, src: String) =
    TxTransforms.PartitionField(s"${src}_bucket", s"bucket[$n]", src)

  test("bucket layout: hidden derivation, inheritance, pruning by projected equality") {
    val tbl = tmp()
    val df = (0L until 64L).map(i => (i, s"p$i")).toDF("id", "s")
    TxTable.commit(df, tbl, "overwrite",
      partitionSpec = Some(Seq(bucketField(4, "id"))))
    TxTable.commit(Seq((100L, "x")).toDF("id", "s"), tbl, "append")
    val m = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m.partitionColumns == Seq("id_bucket"))
    assert(m.partitionTransforms == Map("id_bucket" -> "bucket[4](id)"))
    // the derived field never enters the schema; the source stays
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(schema.fieldNames.toSeq == Seq("id", "s"))
    // files landed under id_bucket=<0..3> dirs with min=max stats
    assert(m.files.forall(_.contains("id_bucket=")))
    // read back: full content, source column intact
    assert(TxTable.read(spark, tbl).count() == 65L)
    assert(TxTable.read(spark, tbl).filter(col("id") === 7L)
      .select("s").head().getString(0) == "p7")
    // projected equality prunes to one bucket's files
    val filters = Seq(org.apache.spark.sql.sources.EqualTo("id", 7L))
    val projected = TxTransforms.withProjections(filters, m)
    assert(projected.size == 2, projected)
    val lst = TxTable.logicalStats(m)
    val kept = m.files.count { f =>
      !projected.exists(fl => graft.sources.TxStats.excludes(
        lst.getOrElse(f, Map.empty), schema, fl))
    }
    assert(kept < m.files.size,
      s"bucket projection pruned nothing ($kept of ${m.files.size})")
  }

  test("days layout: UTC-fixed derivation and range-predicate pruning through SQL") {
    // three days of events, one commit each — files cluster by day
    val day = 86400L
    spark.sql(
      """CREATE TABLE txtr.db.ev (ev_id BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (days(ts))""".stripMargin)
    (0 until 3).foreach { d =>
      val rows = (0 until 10).map(i =>
        (d * 10L + i, new java.sql.Timestamp((d * day + i * 3600L) * 1000L)))
      spark.createDataFrame(rows).toDF("ev_id", "ts")
        .coalesce(1).createOrReplaceTempView("txtr_ev_src")
      spark.sql("INSERT INTO txtr.db.ev SELECT * FROM txtr_ev_src")
    }
    val tbl = s"$warehouse/db/ev"
    val m = TxTable.readManifest(Paths.get(tbl),
      TxTable.latestVersion(tbl).get)
    assert(m.partitionColumns == Seq("ts_day") &&
      m.partitionTransforms == Map("ts_day" -> "days(ts)"))
    assert(m.files.count(_.contains("ts_day=")) == m.files.size)
    // a ts range covering only day 1 must prune days 0 and 2 at
    // PLANNING (the projected day bounds against the path stats)
    val q = spark.sql(
      s"""SELECT ev_id FROM txtr.db.ev
         |WHERE ts >= TIMESTAMP '1970-01-02 00:00:00Z'
         |  AND ts < TIMESTAMP '1970-01-03 00:00:00Z'""".stripMargin)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (10L to 19L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("skipped=2/3") ||
      plan.contains("InMemoryFileIndex(1 paths)"), plan.take(800))
  }

  test("truncate layout: prefix pruning; unsupported transforms refuse") {
    spark.sql(
      """CREATE TABLE txtr.db.tr (k STRING, v BIGINT)
        |PARTITIONED BY (truncate(2, k))""".stripMargin)
    Seq(("aaX", 1L), ("abY", 2L), ("zzQ", 3L)).toDF("k", "v")
      .coalesce(1).createOrReplaceTempView("txtr_tr_src")
    spark.sql("INSERT INTO txtr.db.tr SELECT * FROM txtr_tr_src")
    val q = spark.sql("SELECT v FROM txtr.db.tr WHERE k = 'zzQ'")
    assert(q.collect().map(_.getLong(0)).toSeq == Seq(3L))
    assert(q.queryExecution.executedPlan.toString.contains("skipped="),
      "truncate projection must reach the skip layer")
    // unsupported transform shapes refuse loudly at CREATE
    val e = intercept[Exception](spark.sql(
      """CREATE TABLE txtr.db.bad (id BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (foo(ts))""".stripMargin))
    assert(e.getMessage.contains("unsupported PARTITIONED BY transform"),
      e.getMessage)
  }

  test("integral truncate layout: floor-to-width derivation, range pruning") {
    val tbl = tmp()
    val df = Seq(-17L, -10L, -3L, 0L, 4L, 9L, 10L, 23L).map(v => (v, s"r$v"))
      .toDF("n", "s")
    TxTable.commit(df, tbl, "overwrite", partitionSpec = Some(Seq(
      TxTransforms.PartitionField("n_trunc", "truncate[10]", "n"))))
    val m = TxTable.readManifest(Paths.get(tbl), 1L)
    // floor semantics: -17 → -20, -3 → -10, 9 → 0 (Iceberg truncate)
    val dirs = m.files.flatMap(_.split('/').find(_.startsWith("n_trunc=")))
      .map(_.stripPrefix("n_trunc=")).distinct.sorted
    assert(dirs.toSet == Set("-20", "-10", "0", "10", "20"), dirs)
    assert(TxTable.read(spark, tbl).count() == 8L)
    // range projection prunes: n >= 10 keeps only the 10/20 dirs
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val skipSch = TxTransforms.skipSchema(schema, m)
    val fs = TxTransforms.withProjections(
      Seq(org.apache.spark.sql.sources.GreaterThanOrEqual("n", 10L)), m)
    val lst = TxTable.logicalStats(m)
    val kept = m.files.filter { f =>
      !fs.exists(fl => graft.sources.TxStats.excludes(
        lst.getOrElse(f, Map.empty), skipSch, fl))
    }
    assert(kept.forall(f => f.contains("n_trunc=10") ||
      f.contains("n_trunc=2")), kept)
    assert(kept.size < m.files.size)
    // strict-bound tightening: n < 10 (an exact multiple) excludes the
    // n_trunc=10 directory entirely
    val fs2 = TxTransforms.withProjections(
      Seq(org.apache.spark.sql.sources.LessThan("n", 10L)), m)
    val kept2 = m.files.filter { f =>
      !fs2.exists(fl => graft.sources.TxStats.excludes(
        lst.getOrElse(f, Map.empty), skipSch, fl))
    }
    assert(!kept2.exists(_.contains("n_trunc=10")), kept2)
    // soundness: the kept files still answer the query exactly
    assert(TxTable.read(spark, tbl).filter(col("n") < 10L).count() == 6L)
  }

  test("time-grain layouts: years/months/hours derive UTC-fixed ordinals and prune") {
    val tbl = tmp()
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // rows spanning 1969-12 .. 1970-03 plus one 1971 row: negative
    // ordinals exercise the floor, the 1971 row the year rollover
    val rows = Seq(-86400L * 10, 0L, 86400L * 40, 86400L * 70,
      86400L * 400).zipWithIndex.map { case (s, i) => (i.toLong, ts(s)) }
    TxTable.commit(rows.toDF("id", "ts"), tbl, "overwrite",
      partitionSpec = Some(Seq(
        TxTransforms.PartitionField("ts_month", "months", "ts"))))
    val m = TxTable.readManifest(Paths.get(tbl), 1L)
    val dirs = m.files.flatMap(_.split('/').find(_.startsWith("ts_month=")))
      .map(_.stripPrefix("ts_month=")).distinct.sorted
    // 1969-12 → -1, 1970-01 → 0, 1970-02 → 1, 1970-03 → 2, 1971-02 → 13
    assert(dirs.toSet == Set("-1", "0", "1", "13", "2"), dirs)
    // the projection agrees with the staged derivation on every row
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val skipSch = TxTransforms.skipSchema(schema, m)
    val lst = TxTable.logicalStats(m)
    // ts >= 1970-02-01 keeps months >= 1 only (exact boundary)
    val fs = TxTransforms.withProjections(Seq(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts",
        ts(86400L * 31))), m)
    val kept = m.files.filter { f =>
      !fs.exists(fl => graft.sources.TxStats.excludes(
        lst.getOrElse(f, Map.empty), skipSch, fl))
    }
    assert(kept.size < m.files.size, s"months projection pruned nothing")
    assert(TxTable.read(spark, tbl)
      .filter(col("ts") >= ts(86400L * 31)).count() == 3L)
    // hours end-to-end through SQL CREATE + INSERT + a pruned SELECT
    spark.sql(
      """CREATE TABLE txtr.db.hr (ev_id BIGINT, ts TIMESTAMP)
        |PARTITIONED BY (hours(ts))""".stripMargin)
    (0 until 3).foreach { h =>
      val rs = (0 until 5).map(i =>
        (h * 10L + i, new java.sql.Timestamp((h * 3600L + i * 60L) * 1000L)))
      spark.createDataFrame(rs).toDF("ev_id", "ts")
        .coalesce(1).createOrReplaceTempView("txtr_hr_src")
      spark.sql("INSERT INTO txtr.db.hr SELECT * FROM txtr_hr_src")
    }
    val q = spark.sql(
      s"""SELECT ev_id FROM txtr.db.hr
         |WHERE ts >= TIMESTAMP '1970-01-01 01:00:00Z'
         |  AND ts < TIMESTAMP '1970-01-01 02:00:00Z'""".stripMargin)
    assert(q.collect().map(_.getLong(0)).sorted.toSeq == (10L to 14L))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("skipped=2/3") ||
      plan.contains("InMemoryFileIndex(1 paths)"), plan.take(800))
    // years: the v2 transform round-trips through the manifest encode
    val yf = TxTransforms.PartitionField("ts_year", "years", "ts")
    assert(TxTransforms.decode(TxTransforms.encode(yf)) == yf)
  }

  test("truncate projection cuts by codepoints, matching the staged substr") {
    val f2 = TxTransforms.PartitionField("k_trunc", "truncate[2]", "k")
    import org.apache.spark.sql.sources._
    // supplementary char: 1 codepoint, 2 UTF-16 units — the projected
    // equality must equal what the staged substr(1, 2) writes to paths
    val v = "😀aX" // 😀aX
    assert(TxTransforms.projectFilter(EqualTo("k", v), Seq(f2)) ==
      Seq(EqualTo("k_trunc", "😀a")))
    val df = Seq(Tuple1(v)).toDF("k")
    val derived = df.select(TxTransforms.deriveColumn(f2, df.schema))
      .head().getString(0)
    assert(derived == "😀a",
      s"staged derivation disagrees: ${derived.toSeq.map(_.toInt)}")
    // a 1-codepoint (2-unit) prefix is SHORTER than the truncate width:
    // projecting an equality from it would be unsound — nothing projects
    assert(TxTransforms.projectFilter(
      StringStartsWith("k", "😀"), Seq(f2)).isEmpty)
    // a >= 2-codepoint prefix projects its codepoint cut
    assert(TxTransforms.projectFilter(
      StringStartsWith("k", "😀bc"), Seq(f2)) ==
      Seq(EqualTo("k_trunc", "😀b")))
  }

  test("bucket V2 function maps null input to null, like the staged layout") {
    val bound = graft.sources.TxBucketFunction.bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[Integer]]
    val row = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](4, null))
    assert(bound.produceResult(row) == null,
      "null source must map to the null partition, not pmod(hash(0), n)")
    val ok = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(Array[Any](4, 7L))
    // agrees with the staged derivation on non-null input
    val staged = Seq(Tuple1(7L)).toDF("id").select(
      TxTransforms.deriveColumn(bucketField(4, "id"),
        Seq(Tuple1(7L)).toDF("id").schema)).head().getInt(0)
    assert(bound.produceResult(ok) == staged)
  }

  test("bucket SPJ: co-bucketed tables join with zero exchanges") {
    val a = tmp(); val b = tmp()
    val fa = (0L until 40L).map(i => (i, i * 2)).toDF("id", "x")
    val fb = (0L until 40L).map(i => (i, i * 3)).toDF("id", "y")
    TxTable.commit(fa, a, "overwrite",
      partitionSpec = Some(Seq(bucketField(4, "id"))))
    TxTable.commit(fb, b, "overwrite",
      partitionSpec = Some(Seq(bucketField(4, "id"))))
    // route through the catalog so the scans report their partitioning
    val wh = warehouse
    def link(name: String, src: String): Unit = {
      val d = Paths.get(s"$wh/db/$name")
      Files.createDirectories(d.getParent)
      Files.createSymbolicLink(d, Paths.get(src).getParent.resolve("tbl"))
        : Unit
    }
    link("bja", a); link("bjb", b)
    withConf(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = spark.sql(
        """SELECT a.id, a.x, b.y FROM txtr.db.bja a
          |JOIN txtr.db.bjb b ON a.id = b.id""".stripMargin)
      assert(q.count() == 40L)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"co-bucketed SPJ must be exchange-free:\n${plan.take(1200)}")
    }
  }

  test("runtime (DPP/DFP) IN-lists project onto bucket directories") {
    import graft.sources.{TxRuntimeFilter, TxStats}
    // unit level: an IN over the SOURCE column prunes through the
    // projected bucket equality — footer min/max alone never could
    // (buckets do not cluster key ranges)
    val tbl = tmp()
    TxTable.commit((0L until 64L).map(i => (i, i)).toDF("id", "x"), tbl,
      "overwrite", partitionSpec = Some(Seq(bucketField(8, "id"))))
    val m = TxTable.readManifest(Paths.get(tbl), 1L)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val spec = TxTransforms.spec(m)
    val skipSch = TxTransforms.skipSchema(schema, spec)
    val pred = org.apache.spark.sql.graftbridge.GraftBridge.filterToV2(
      org.apache.spark.sql.sources.In("id", Array(3L, 17L)))
    val survivors = TxRuntimeFilter.survivors(m.files,
      TxTable.logicalStats(m), TxTable.logicalBlooms(m), skipSch,
      Array(pred), spec)
    assert(survivors.size < m.files.size,
      s"bucket projection pruned nothing (${survivors.size} of " +
        s"${m.files.size})")
    // soundness: the surviving files still hold both probed ids
    val hit = spark.read.schema(schema)
      .parquet(survivors.map(f => s"$tbl/$f"): _*)
      .filter(col("id").isin(3L, 17L)).count()
    assert(hit == 2L)
    // without the spec, footer min/max keeps everything (each bucket
    // file spans nearly the full id range) — the projection IS the win
    val unprojected = TxRuntimeFilter.survivors(m.files,
      TxTable.logicalStats(m), TxTable.logicalBlooms(m), skipSch,
      Array(pred))
    assert(unprojected.size > survivors.size)
  }

  test("dynamic partition overwrite reloads one day of a days(ts) table") {
    // the daily-reload shape on a hidden time layout: only the day
    // present in the frame replaces, every other day's files carry
    // forward VERBATIM
    val tbl = tmp()
    val day = 86400L
    def ts(d: Long, h: Long) = new java.sql.Timestamp((d * day + h * 3600L) * 1000L)
    val rows = for (d <- 0L until 3L; h <- 0L until 4L)
      yield (d * 10 + h, ts(d, h))
    TxTable.commit(rows.toDF("id", "ts"), tbl, "overwrite",
      partitionSpec = Some(Seq(
        TxTransforms.PartitionField("ts_day", "days", "ts"))))
    val m1 = TxTable.readManifest(Paths.get(tbl), 1L)
    // reload day 1 with a corrected slice (2 rows instead of 4)
    TxTable.commit(
      Seq((100L, ts(1, 0)), (101L, ts(1, 1))).toDF("id", "ts"),
      tbl, "dynoverwrite")
    val m2 = TxTable.readManifest(Paths.get(tbl), 2L)
    // untouched days' files carried verbatim
    val untouched1 = m1.files.filterNot(_.contains("ts_day=1")).toSet
    assert(untouched1.subsetOf(m2.files.toSet),
      "untouched day directories must carry forward verbatim")
    assert(m2.files.filter(_.contains("ts_day=1"))
      .forall(f => !m1.files.contains(f)), "day 1 must be replaced")
    val got = TxTable.read(spark, tbl).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == ((0L to 3L) ++ Seq(100L, 101L) ++ (20L to 23L)).sorted,
      got.mkString(","))
  }

  test("rewrites re-derive the hidden layout; layout-breaking DDL refuses") {
    val tbl = tmp()
    TxTable.commit((0L until 20L).map(i => (i, s"p$i")).toDF("id", "s"),
      tbl, "overwrite", partitionSpec = Some(Seq(bucketField(4, "id"))))
    // a copy-on-write DELETE re-stages survivors under the derived dirs
    TxTable.deleteWhere(spark, tbl,
      Seq(org.apache.spark.sql.sources.EqualTo("id", 7L)))
    val m = TxTable.readManifest(Paths.get(tbl), 2L)
    assert(m.partitionTransforms.nonEmpty)
    assert(m.files.forall(_.contains("id_bucket=")),
      "the rewrite lost the hidden layout")
    assert(TxTable.read(spark, tbl).count() == 19L)
    // compaction preserves the spec (per-partition-dir groups)
    TxTable.compact(spark, tbl, targetBytes = 1L << 30)
    val m3 = TxTable.readManifest(Paths.get(tbl), 3L)
    assert(m3.partitionTransforms == m.partitionTransforms)
    assert(TxTable.read(spark, tbl).count() == 19L)
    // a racing append still rebases, layout intact
    val prim = new graft.sources.ConflictInjectingPrimitive(
      graft.sources.PosixLinkPrimitive,
      () => TxTable.commit(Seq((200L, "w")).toDF("id", "s"), tbl,
        "append"): Unit)
    val v = TxTable.commit(Seq((300L, "z")).toDF("id", "s"), tbl,
      "append", primitive = prim)
    assert(TxTable.readManifest(Paths.get(tbl), v)
      .partitionTransforms == m.partitionTransforms)
    assert(TxTable.read(spark, tbl).count() == 21L)
    // DDL that would silently break the derived layout refuses
    val e1 = intercept[Exception](
      TxTable.renameColumn(spark, tbl, "id", "id2"))
    assert(e1.getMessage.contains("partition transform"), e1.getMessage)
    val e2 = intercept[Exception](
      TxTable.evolveColumns(spark, tbl, drop = Seq("id")))
    assert(e2.getMessage.contains("partition transform"), e2.getMessage)
    // ZORDER composes with the hidden layout (r19): the rewrite
    // re-derives the bucket dirs and clusters within each bucket value
    val vz = TxTable.compactZOrder(spark, tbl, "id", "id", 2)
    val mz = TxTable.readManifest(Paths.get(tbl), vz)
    assert(mz.op == "zorder")
    assert(mz.partitionTransforms == m.partitionTransforms)
    assert(mz.files.forall(_.contains("id_bucket=")),
      "the zorder rewrite lost the hidden layout")
    assert(TxTable.read(spark, tbl).count() == 21L)
  }

  test("scoped ZORDER inside one day of a days(ts) layout: other days verbatim, box probe narrows") {
    import graft.sources.TxStats
    import org.apache.spark.sql.sources.{Filter, GreaterThanOrEqual, LessThan, LessThanOrEqual}
    val tbl = tmp()
    val day = 86400L
    def t(d: Long, s: Long) = new java.sql.Timestamp((d * day + s) * 1000L)
    // 3 days × 6 commits: each day holds 6 files (optimized write →
    // one file per day per commit) whose (x, y) extents each span
    // nearly the whole 16×16 plane — the worst case for a 2-D probe
    (0 until 6).foreach { c =>
      val rows = for (d <- 0L until 3L; i <- 0L until 64L if i % 6 == c)
        yield (d * 1000L + i, t(d, i * 60L), i % 16, (i * 7) % 16)
      TxTable.commit(rows.toDF("id", "ts", "x", "y"), tbl,
        if (c == 0) "overwrite" else "append",
        partitionSpec = if (c == 0) Some(Seq(
          TxTransforms.PartitionField("ts_day", "days", "ts"))) else None)
    }
    val before = TxTable.readManifest(Paths.get(tbl), 6L)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(before.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    val day1: Seq[Filter] = Seq(
      GreaterThanOrEqual("ts", t(1, 0)), LessThan("ts", t(2, 0)))
    val box: Seq[Filter] = day1 ++ Seq(
      GreaterThanOrEqual("x", 0L), LessThanOrEqual("x", 3L),
      GreaterThanOrEqual("y", 0L), LessThanOrEqual("y", 3L))
    def kept(m: TxTable.Manifest, fs: Seq[Filter]): Int = {
      val lst = TxTable.logicalStats(m)
      val sch = TxTransforms.skipSchema(schema, m)
      val proj = TxTransforms.withProjections(fs, m)
      m.files.count { f =>
        !proj.exists(fl => TxStats.excludes(
          lst.getOrElse(f, Map.empty), sch, fl))
      }
    }
    val keptBefore = kept(before, box)
    assert(keptBefore >= 4,
      s"fixture must start unprunable inside day 1, kept=$keptBefore")
    // out-of-range scope: version-free no-op
    assert(TxTable.compactZOrderWhere(spark, tbl, Seq("x", "y"),
      Seq(GreaterThanOrEqual("ts", t(99, 0))), numFiles = 8) == 6L)
    val v = TxTable.compactZOrderWhere(spark, tbl, Seq("x", "y"), day1,
      numFiles = 8, bits = 4)
    assert(v == 7L)
    val after = TxTable.readManifest(Paths.get(tbl), 7L)
    assert(after.op == "zorder")
    assert(after.partitionTransforms == before.partitionTransforms)
    // every other day's files carried VERBATIM, stats untouched
    val otherBefore = before.files.filterNot(_.contains("ts_day=1")).toSet
    val otherAfter = after.files.filterNot(_.contains("ts_day=1")).toSet
    assert(otherBefore == otherAfter, "days 0/2 must carry verbatim")
    otherBefore.foreach(f =>
      assert(after.stats.get(f) == before.stats.get(f)))
    // day 1's files all rewritten, still under the hidden layout
    val day1After = after.files.filter(_.contains("ts_day=1"))
    assert(day1After.nonEmpty &&
      day1After.forall(f => !before.files.contains(f)))
    // identical content; the pre-rewrite layout stays time-travelable
    def content(ver: Long) = TxTable.readVersion(spark, tbl, ver)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(content(7L) == content(6L))
    // the 2-D box probe inside day 1 keeps strictly fewer candidates
    val keptAfter = kept(after, box)
    assert(keptAfter < keptBefore && keptAfter <= keptBefore / 2,
      s"scoped zorder must narrow day 1's box: $keptAfter vs $keptBefore")
  }
}
