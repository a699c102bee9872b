package graft

import java.nio.file.Files

import graft.sources.{TxTable, TxTransforms}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The ONE invariant hidden partitioning's correctness stands on: the
  * DRIVER-side transform arithmetic (predicate projection, SPJ
  * function) and the STAGED column expression must agree bit-for-bit —
  * a silent divergence makes pruning drop live rows. Pinned by
  * randomized round-trips through a real staged layout. */
class TxTransformPropertySpec extends SparkSpec {
  import spark.implicits._

  private val rnd = new scala.util.Random(180)

  test("bucket: projected equality keeps every row's own file, for random longs") {
    val tbl = Files.createTempDirectory("txtrp-b-").toString + "/tbl"
    val ids = Seq.fill(200)(rnd.nextLong() % 1000000L).distinct
    TxTable.commit(ids.map(i => (i, i * 3)).toDF("id", "x"), tbl,
      "overwrite", partitionSpec = Some(Seq(
        TxTransforms.PartitionField("id_bucket", "bucket[7]", "id"))))
    val m = TxTable.readManifest(java.nio.file.Paths.get(tbl), 1L)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    // for EVERY id: the projected filters must keep at least the file
    // that actually holds it (soundness), and the pruned read must
    // still find the row (end-to-end)
    ids.take(50).foreach { id =>
      val kept = TxTable.partitionFiles(m,
        Seq(org.apache.spark.sql.sources.EqualTo("id", id)))._1
      val hit = spark.read.schema(schema)
        .parquet(kept.map(f => s"$tbl/$f"): _*)
        .filter(col("id") === id).count()
      assert(hit == 1L, s"id=$id lost by bucket projection (kept " +
        s"${kept.size}/${m.files.size} files)")
    }
    // and the projection actually prunes (7 buckets → most files out)
    val keptN = TxTable.partitionFiles(m,
      Seq(org.apache.spark.sql.sources.EqualTo("id", ids.head)))._1.size
    assert(keptN < m.files.size, "bucket projection never prunes")
  }

  test("SPJ bucket function agrees with the staged layout for random values") {
    // TxBucketFunction.produceResult must equal the path value the
    // staged pmod(hash) expression produced — SPJ group alignment and
    // any Spark-side re-evaluation depend on it
    val bound = graft.sources.TxBucketFunction.bind(
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("n",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType))))
      .asInstanceOf[org.apache.spark.sql.connector.catalog.functions
        .ScalarFunction[Integer]]
    val vals = Seq.fill(300)(rnd.nextLong())
    val staged = vals.toDF("id")
      .withColumn("b", pmod(hash(col("id")), lit(7)))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    vals.foreach { v =>
      val got = bound.produceResult(
        org.apache.spark.sql.catalyst.InternalRow(7, v)).intValue()
      assert(got == staged(v),
        s"bucket($v) driver=$got staged=${staged(v)}")
    }
  }

  test("days: projected bounds keep each row's day, boundaries exact, for random instants") {
    val tbl = Files.createTempDirectory("txtrp-d-").toString + "/tbl"
    // random timestamps across ±3 days of epoch day 20000 (micros)
    val base = 20000L * 86400L
    val tss = Seq.fill(120)(base + (rnd.nextLong() % (3L * 86400L)))
      .map(s => new java.sql.Timestamp(s * 1000L))
    TxTable.commit(
      tss.zipWithIndex.map { case (t, i) => (i.toLong, t) }
        .toDF("id", "ts"),
      tbl, "overwrite", partitionSpec = Some(Seq(
        TxTransforms.PartitionField("ts_day", "days", "ts"))))
    val m = TxTable.readManifest(java.nio.file.Paths.get(tbl), 1L)
    val schema = org.apache.spark.sql.types.DataType
      .fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    def keptFor(fs: Seq[org.apache.spark.sql.sources.Filter])
        : Seq[String] = TxTable.partitionFiles(m, fs)._1
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    // random ranges, including EXACT midnight bounds (the strict-<
    // tightening case): the pruned read equals the full-scan answer
    (0 until 25).foreach { i =>
      val lo =
        if (i % 5 == 0) new java.sql.Timestamp((base + (i % 3) * 86400L) * 1000L)
        else new java.sql.Timestamp(
          (base + (rnd.nextLong() % (3L * 86400L))) * 1000L)
      val hi = new java.sql.Timestamp(
        lo.getTime + math.abs(rnd.nextLong() % (2L * 86400L)) * 1000L)
      val fs = Seq(GreaterThanOrEqual("ts", lo), LessThan("ts", hi))
      val kept = keptFor(fs)
      val pruned =
        (if (kept.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.schema(schema)
          .parquet(kept.map(f => s"$tbl/$f"): _*))
        .filter(col("ts") >= lit(lo) && col("ts") < lit(hi)).count()
      val full = tss.count(t => !t.before(lo) && t.before(hi))
      assert(pruned == full.toLong,
        s"range [$lo, $hi) lost rows: pruned=$pruned full=$full " +
          s"(kept ${kept.size}/${m.files.size})")
    }
  }

  /** Shared range-soundness harness: stage `rows` under `field`, fire
    * random [lo, hi) source ranges, and require the projected-pruned
    * read to equal the full scan — the one property every floor-shaped
    * transform must satisfy. */
  private def rangeSoundness[T](tag: String,
      field: TxTransforms.PartitionField,
      rows: Seq[T], mkDf: Seq[T] => org.apache.spark.sql.DataFrame,
      col0: String, ranges: Seq[(Any, Any)]): Unit = {
    val tbl = Files.createTempDirectory(s"txtrp-$tag-").toString + "/tbl"
    TxTable.commit(mkDf(rows), tbl, "overwrite",
      partitionSpec = Some(Seq(field)))
    val m = TxTable.readManifest(java.nio.file.Paths.get(tbl), 1L)
    val schema = org.apache.spark.sql.types.DataType.fromJson(m.schemaJson)
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    import org.apache.spark.sql.sources.{GreaterThanOrEqual, LessThan}
    ranges.foreach { case (lo, hi) =>
      val kept = TxTable.partitionFiles(m,
        Seq(GreaterThanOrEqual(col0, lo), LessThan(col0, hi)))._1
      val pruned =
        (if (kept.isEmpty)
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
        else spark.read.schema(schema)
          .parquet(kept.map(f => s"$tbl/$f"): _*))
        .filter(col(col0) >= lit(lo) && col(col0) < lit(hi)).count()
      val full = mkDf(rows)
        .filter(col(col0) >= lit(lo) && col(col0) < lit(hi)).count()
      assert(pruned == full,
        s"$tag range [$lo, $hi) lost rows: pruned=$pruned full=$full " +
          s"(kept ${kept.size}/${m.files.size})")
    }
  }

  test("months/hours/years: random ranges prune without losing rows, boundaries exact") {
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    // ±400 days around the epoch: negative ordinals + year rollovers
    val span = 400L * 86400L
    val tss = Seq.fill(100)(rnd.nextLong() % span).map(ts)
    def ranges(boundary: Long => Long): Seq[(Any, Any)] =
      (0 until 15).map { i =>
        val lo0 = rnd.nextLong() % span
        val lo = if (i % 4 == 0) boundary(lo0) else lo0 // exact starts
        (ts(lo), ts(lo + math.abs(rnd.nextLong() % span)))
      }
    def mk(xs: Seq[java.sql.Timestamp]) =
      xs.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "ts")
    rangeSoundness("mo",
      TxTransforms.PartitionField("ts_month", "months", "ts"), tss, mk,
      "ts", ranges(s => Math.floorDiv(s, 86400L * 28) * 86400L * 28))
    rangeSoundness("hr",
      TxTransforms.PartitionField("ts_hour", "hours", "ts"), tss, mk,
      "ts", ranges(s => Math.floorDiv(s, 3600L) * 3600L))
    rangeSoundness("yr",
      TxTransforms.PartitionField("ts_year", "years", "ts"), tss, mk,
      "ts", ranges(s => Math.floorDiv(s, 86400L * 365) * 86400L * 365))
  }

  test("integral truncate: random ranges prune without losing rows, multiples exact") {
    val ns = Seq.fill(150)(rnd.nextLong() % 10000L).distinct
    def mk(xs: Seq[Long]) =
      xs.zipWithIndex.map { case (n, i) => (i.toLong, n) }.toDF("id", "n")
    val ranges: Seq[(Any, Any)] = (0 until 20).map { i =>
      val lo0 = rnd.nextLong() % 10000L
      val lo = if (i % 4 == 0) Math.floorDiv(lo0, 100L) * 100L else lo0
      (Long.box(lo), Long.box(lo + math.abs(rnd.nextLong() % 10000L)))
    }
    rangeSoundness("tr",
      TxTransforms.PartitionField("n_trunc", "truncate[100]", "n"),
      ns, mk, "n", ranges)
  }
}
