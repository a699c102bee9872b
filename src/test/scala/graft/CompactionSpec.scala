package graft

import graft.sources.{Compaction, OrcTable, TxCatalog}

/** Compaction planning and the ORC codec round trip. */
class CompactionSpec extends SparkSpec {
  import spark.implicits._

  test("plan: greedy cumulative fill, group break at the target boundary") {
    val inv = Seq(
      ("p1", "a", 60L), ("p1", "b", 60L), ("p1", "c", 60L), ("p1", "d", 10L)
    ).toDF("part", "path", "bytes")
    val out = Compaction.plan(inv, "part", "path", "bytes", targetBytes = 100L)
      .orderBy("path").collect().map(r => (r.getString(1), r.getLong(3)))
    // offsets 0,60,120,180 -> groups 0,0,1,1
    assert(out.toSeq == Seq(("a", 0L), ("b", 0L), ("c", 1L), ("d", 1L)))
  }

  test("plan: an oversized file spans boundaries but is never split") {
    val inv = Seq(("p1", "big", 250L), ("p1", "tiny", 1L))
      .toDF("part", "path", "bytes")
    val out = Compaction.plan(inv, "part", "path", "bytes", targetBytes = 100L)
      .orderBy("path").collect().map(r => (r.getString(1), r.getLong(3)))
    // big starts at 0 -> grp 0 (one row, one group); tiny starts at 250 -> grp 2
    assert(out.toSeq == Seq(("big", 0L), ("tiny", 2L)))
  }

  test("plan: partition dirs fill independently; target <= 0 rejected") {
    val inv = Seq(("p1", "a", 90L), ("p2", "a", 90L), ("p2", "b", 20L))
      .toDF("part", "path", "bytes")
    val out = Compaction.plan(inv, "part", "path", "bytes", targetBytes = 100L)
      .orderBy("part", "path").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(3)))
    assert(out.toSeq == Seq(("p1", "a", 0L), ("p2", "a", 0L), ("p2", "b", 0L)))
    val e = intercept[IllegalArgumentException](
      Compaction.plan(inv, "part", "path", "bytes", targetBytes = 0L))
    assert(e.getMessage.contains("targetBytes"))
  }

  test("csv round trip preserves commas, quotes, and embedded newlines") {
    val df = Seq(
      (1L, "plain text", 10L),
      (2L, "comma, inside", 20L),
      (3L, "quote \" and, more", 30L),
      (4L, "embedded\nnewline", 40L)
    ).toDF("id", "s", "v")
    val tmp = java.nio.file.Files.createTempDirectory("graft-csv-spec-")
      .toString
    val back = graft.sources.CsvTable.roundTrip(df, tmp).orderBy("id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(back.toSeq == Seq((1L, "plain text", 10L),
      (2L, "comma, inside", 20L), (3L, "quote \" and, more", 30L),
      (4L, "embedded\nnewline", 40L)))
  }

  test("orc round trip preserves strings with quotes/newlines and nulls") {
    val df = Seq(
      (1L, Some("plain"), Some(10L)),
      (2L, Some("quote \" tab \t newline \n done"), None),
      (3L, None, Some(-5L))
    ).toDF("id", "s", "v")
    val tmp = java.nio.file.Files.createTempDirectory("graft-orc-spec-")
      .toString
    val back = OrcTable.roundTrip(df, tmp).orderBy("id").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    assert(back.toSeq == Seq((1L, "plain", 10L),
      (2L, "quote \" tab \t newline \n done", -1L), (3L, null, -5L)))
  }

  test("scoped compact: out-of-scope files carry; empty scope is a no-op") {
    import spark.implicits._
    import graft.sources.TxTable
    val tbl = java.nio.file.Files.createTempDirectory("cmpw-spec-")
      .toString + "/tbl"
    TxTable.commit(Seq((1L, "a"), (2L, "a")).toDF("id", "g"), tbl,
      "overwrite")
    TxTable.commit(Seq((3L, "b")).toDF("id", "g"), tbl, "append")
    val m2 = TxTable.readManifest(java.nio.file.Paths.get(tbl), 2L)
    // scope g='b': the g='a' files (min=max stats) carry verbatim
    val v = TxTable.compact(spark, tbl, targetBytes = 1L << 20,
      scope = Seq(org.apache.spark.sql.sources.EqualTo("g", "b")))
    assert(v == 3L)
    val m3 = TxTable.readManifest(java.nio.file.Paths.get(tbl), 3L)
    val aFiles = m2.files.filter(f =>
      m2.stats.get(f).exists(_.get("g").exists(_.min == "a")))
    assert(aFiles.nonEmpty && aFiles.forall(m3.files.contains))
    assert(TxTable.read(spark, tbl).count() == 3L)
    // a scope that provably matches no file commits no version
    assert(TxTable.compact(spark, tbl, targetBytes = 1L << 20,
      scope = Seq(org.apache.spark.sql.sources.EqualTo("g", "zzz"))) == 3L)
    assert(TxTable.latestVersion(tbl) == Some(3L))
  }

  test("CALL system.compact_where scopes through SQL; untranslatable " +
      "conjuncts refuse") {
    import spark.implicits._
    import graft.sources.TxTable
    val wh = java.nio.file.Files.createTempDirectory("cmpw-sql-").toString
    TxCatalog.register(spark, "txcw", wh)
    val tbl = s"$wh/db/t"
    TxTable.commit(Seq((1L, "a"), (2L, "a")).toDF("id", "g"), tbl,
      "overwrite")
    TxTable.commit(Seq((3L, "b")).toDF("id", "g"), tbl, "append")
    val m2 = TxTable.readManifest(java.nio.file.Paths.get(tbl), 2L)
    // type coercion: id > 2 meets the BIGINT column as a BIGINT
    val v = spark.sql(
      s"CALL txcw.system.compact_where('db.t', ${1L << 20}, 'id > 2')")
      .head().getLong(0)
    assert(v == 3L)
    val m3 = TxTable.readManifest(java.nio.file.Paths.get(tbl), 3L)
    val small = m2.files.filter(f =>
      m2.stats.get(f).exists(_.get("id").exists(_.max == "2")))
    assert(small.nonEmpty && small.forall(m3.files.contains))
    assert(spark.sql("SELECT count(*) FROM txcw.db.t").head()
      .getLong(0) == 3L)
    // an untranslatable conjunct refuses loudly — a scope that cannot
    // skip is not a scope
    val e = intercept[Exception](spark.sql(
      s"CALL txcw.system.compact_where('db.t', ${1L << 20}, " +
        "'length(g) > 0')"))
    assert(e.getMessage.contains("stats-evaluable"))
    assert(TxTable.latestVersion(tbl) == Some(3L))
  }

  test("CALL system.zorder_where rewrites only in-scope files into z-order") {
    import spark.implicits._
    import graft.sources.TxTable
    val wh = java.nio.file.Files.createTempDirectory("zow-sql-").toString
    TxCatalog.register(spark, "txzw", wh)
    val tbl = s"$wh/db/t"
    // two commits: one low-id slab (in scope), one high-id (out)
    TxTable.commit((0L until 64L).map(i => (i, i % 16, (i * 7) % 16))
      .toDF("id", "x", "y"), tbl, "overwrite")
    TxTable.commit((1000L until 1064L).map(i => (i, i % 16, (i * 7) % 16))
      .toDF("id", "x", "y"), tbl, "append")
    val m2 = TxTable.readManifest(java.nio.file.Paths.get(tbl), 2L)
    val v = spark.sql(
      "CALL txzw.system.zorder_where('db.t', 'x,y', 'id < 100', 4)")
      .head().getLong(0)
    assert(v == 3L)
    val m3 = TxTable.readManifest(java.nio.file.Paths.get(tbl), 3L)
    assert(m3.op == "zorder")
    // the high-id slab carried verbatim; the low-id slab rewrote
    val highFiles = m2.files.filter(f =>
      m2.stats.get(f).exists(_.get("id").exists(_.min.toLong >= 1000L)))
    assert(highFiles.nonEmpty && highFiles.forall(m3.files.contains))
    val lowFiles = m2.files.filterNot(highFiles.contains)
    assert(lowFiles.forall(f => !m3.files.contains(f)))
    assert(spark.sql("SELECT count(*) FROM txzw.db.t").head()
      .getLong(0) == 128L)
    // an identity partition z-col or untranslatable scope still refuses
    val e = intercept[Exception](spark.sql(
      "CALL txzw.system.zorder_where('db.t', 'x,y', 'length(CAST(id AS STRING)) > 0', 4)"))
    assert(e.getMessage.contains("stats-evaluable"))
    assert(TxTable.latestVersion(tbl) == Some(3L))
  }
}
