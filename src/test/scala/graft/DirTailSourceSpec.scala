package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The custom DataSource V2 micro-batch source (`graft-dirtail`):
  * deterministic offsets over an immutable sorted file listing. The
  * properties that make it a SOURCE rather than a file reader —
  * offset determinism, replay equality, checkpoint resume picking up
  * exactly the unseen suffix — are each asserted directly. */
class DirTailSourceSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("kind", StringType),
    StructField("score", DoubleType), StructField("ts", TimestampType)))

  private def writeFile(dir: Path, name: String, rows: Seq[String]): Unit =
    Files.write(dir.resolve(name),
      rows.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)): Unit

  private def line(id: Long): String =
    s"""{"id":$id,"kind":"k${id % 3}","score":${id}.5,"ts":${id * 1000000L}}"""

  private def drainOnce(src: Path, out: Path, ckpt: Path): Unit = {
    val q = spark.readStream.format("graft-dirtail").schema(schema)
      .option("path", src.toString).load()
      .writeStream.format("parquet")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  test("drains a directory exactly once with typed rows") {
    val src = Files.createTempDirectory("dirtail-src")
    val out = Files.createTempDirectory("dirtail-out")
    val ckpt = Files.createTempDirectory("dirtail-ckpt")
    writeFile(src, "part-0001.jsonl", (0L until 5L).map(line))
    writeFile(src, "part-0002.jsonl", (5L until 9L).map(line))
    // staged + foreign files must be invisible
    writeFile(src, ".tmp-staging.jsonl", Seq(line(999)))
    writeFile(src, "notes.txt", Seq("not data"))

    drainOnce(src, out, ckpt)
    val got = spark.read.schema(schema).parquet(out.toString)
    assert(got.count() == 9)
    val r4 = got.filter(col("id") === 4L).head()
    assert(r4.getString(1) == "k1" && r4.getDouble(2) == 4.5)
    assert(r4.getTimestamp(3).toInstant.getEpochSecond == 4L)
  }

  test("checkpoint resume reads exactly the unseen file suffix") {
    val src = Files.createTempDirectory("dirtail-src")
    val out = Files.createTempDirectory("dirtail-out")
    val ckpt = Files.createTempDirectory("dirtail-ckpt")
    writeFile(src, "a.jsonl", (0L until 3L).map(line))
    drainOnce(src, out, ckpt)
    // two new files arrive; the old one is NOT re-read (same checkpoint)
    writeFile(src, "b.jsonl", (3L until 6L).map(line))
    writeFile(src, "c.jsonl", (6L until 8L).map(line))
    drainOnce(src, out, ckpt)
    val ids = spark.read.schema(schema).parquet(out.toString)
      .select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (0L until 8L), s"resume re-read or skipped rows: $ids")
  }

  test("offsets replay the identical file slice (determinism)") {
    val src = Files.createTempDirectory("dirtail-src")
    writeFile(src, "a.jsonl", Seq(line(1)))
    writeFile(src, "b.jsonl", Seq(line(2)))
    writeFile(src, "c.jsonl", Seq(line(3)))
    val stream = new graft.sources.DirTailStream(schema, src.toString)
    val s = stream.deserializeOffset("1")
    val e = stream.deserializeOffset("3")
    def slice() = stream.planInputPartitions(s, e)
      .map(_.asInstanceOf[graft.sources.DirTailPartition].file).toSeq
    val first = slice()
    assert(first.map(f => f.substring(f.lastIndexOf('/') + 1)) ==
      Seq("b.jsonl", "c.jsonl"))
    assert(slice() == first, "same offsets must plan the same files")
    // an offset past the listing is a loud contract violation, not a skip
    val over = intercept[IllegalArgumentException] {
      stream.planInputPartitions(s, stream.deserializeOffset("9")): Unit
    }
    assert(over.getMessage.contains("immutable"))
  }

  test("column pruning reaches the reader (narrow parse, stable order)") {
    val b = new graft.sources.DirTailScanBuilder(schema, "/tmp/x")
    // Catalyst may hand the required columns in ITS order; the pruned
    // schema must keep the declared field order
    b.pruneColumns(StructType(Seq(
      StructField("score", DoubleType), StructField("id", LongType))))
    assert(b.build().readSchema().fieldNames.toSeq == Seq("id", "score"))
    // empty projection (count(*)): zero-field rows, rows still flow
    val b2 = new graft.sources.DirTailScanBuilder(schema, "/tmp/x")
    b2.pruneColumns(StructType(Nil))
    assert(b2.build().readSchema().isEmpty)

    // end-to-end: a projected drain returns only the selected column's
    // values (the pruned schema is what the micro-batch actually decodes)
    val src = Files.createTempDirectory("dirtail-src")
    val out = Files.createTempDirectory("dirtail-out")
    val ckpt = Files.createTempDirectory("dirtail-ckpt")
    writeFile(src, "a.jsonl", (0L until 4L).map(line))
    val q = spark.readStream.format("graft-dirtail").schema(schema)
      .option("path", src.toString).load()
      .select(col("id"))
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out.toString)
    assert(got.schema.fieldNames.toSeq == Seq("id"))
    assert(got.collect().map(_.getLong(0)).sorted.toSeq == (0L until 4L))
  }

  test("rejects schemaless reads and unsupported field types loudly") {
    val noSchema = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-dirtail")
        .option("path", "/tmp/x").load(): Unit
    }
    assert(noSchema.getMessage.contains("schema"))
    val badType = intercept[IllegalArgumentException] {
      spark.readStream.format("graft-dirtail")
        .schema(StructType(Seq(StructField("v", ArrayType(LongType)))))
        .option("path", "/tmp/x").load(): Unit
    }
    assert(badType.getMessage.contains("unsupported type"))
  }

  test("streaming sink: rows stream out as tailable JSONL, typed round trip") {
    import spark.implicits._
    val data = Files.createTempDirectory("dirtail-data")
    val out = Files.createTempDirectory("dirtail-sink-out")
    val ckpt = Files.createTempDirectory("dirtail-sink-ckpt")
    // file-source input so the sink drains a real micro-batch stream
    (0L until 7L).map(i => (i, s"k${i % 3}", i + 0.5, i * 1000000L))
      .toDF("id", "kind", "score", "ts_us")
      .select(col("id"), col("kind"), col("score"),
        timestamp_micros(col("ts_us")).as("ts"))
      .write.mode("overwrite").parquet(data.toString)
    val in = spark.readStream
      .schema(spark.read.parquet(data.toString).schema)
      .parquet(data.toString)
    val q = in.writeStream.format("graft-dirtail")
      .option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // visible namespace: only committed part-*.jsonl + the epoch marker
    val files = Files.list(out).iterator()
    val names = Iterator.continually(files).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString).toList
    assert(names.exists(_.matches("part-\\d{10}-\\d{5}\\.jsonl")), names)
    assert(names.exists(_.matches("\\.epoch-\\d{10}\\.committed")), names)
    assert(!names.exists(_.startsWith(".stage-")), names)
    // tail the sink's output back through the SOURCE: full custom-IO loop
    val back = spark.readStream.format("graft-dirtail").schema(schema)
      .option("path", out.toString).load()
    val rtOut = Files.createTempDirectory("dirtail-rt-out")
    val rtCkpt = Files.createTempDirectory("dirtail-rt-ckpt")
    val q2 = back.writeStream.format("parquet")
      .option("path", rtOut.toString)
      .option("checkpointLocation", rtCkpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val got = spark.read.schema(schema).parquet(rtOut.toString)
      .orderBy("id").collect()
    assert(got.length == 7)
    assert(got.map(_.getLong(0)).toSeq == (0L until 7L))
    assert(got(3).getString(1) == "k0" && got(3).getDouble(2) == 3.5)
    assert(got(3).getTimestamp(3).toInstant.getEpochSecond == 3L)
  }

  test("streaming sink: replayed epoch commit is idempotent (no dup rows)") {
    val out = Files.createTempDirectory("dirtail-replay")
    val w = new graft.sources.DirTailStreamingWrite(schema, out.toString)
    def stageAndCommit(): Unit = {
      // simulate one task's writer for epoch 0 then the driver commit
      val dw = new graft.sources.DirTailWriterFactory(schema, out.toString)
        .createWriter(0, 0L, 0L)
      val row = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](1L, org.apache.spark.unsafe.types.UTF8String.fromString("k"),
          1.5, 1000000L))
      dw.write(row)
      w.commit(0L, Array(dw.commit()))
    }
    stageAndCommit()
    stageAndCommit() // crash-replay of the same epoch
    val visible = Files.list(out).iterator()
    val names = Iterator.continually(visible).takeWhile(_.hasNext)
      .map(_.next().getFileName.toString).toList
    assert(names.count(_.endsWith(".jsonl")) == 1, names) // exactly once
    assert(!names.exists(_.startsWith(".stage-")), names) // replay reaped
  }

  test("streaming sink: a writer with a query id refuses an id-less epoch marker") {
    val out = Files.createTempDirectory("dirtail-legacy")
    // a zero-byte marker for epoch 0 proves no ownership: this query
    // dropping its rows as "already replayed" would lose them
    Files.write(out.resolve(f".epoch-${0L}%010d.committed"),
      Array.emptyByteArray): Unit
    val w = new graft.sources.DirTailStreamingWrite(schema, out.toString,
      queryId = "q-1")
    val dw = new graft.sources.DirTailWriterFactory(schema, out.toString)
      .createWriter(0, 0L, 0L)
    dw.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1L, org.apache.spark.unsafe.types.UTF8String.fromString("k"),
        1.5, 1000000L)))
    val e = intercept[IllegalStateException](w.commit(0L, Array(dw.commit())))
    assert(e.getMessage.contains("recorded no query id"), e.getMessage)
  }

  test("filter pushdown: builder contract, union parse, projected emit") {
    import org.apache.spark.sql.sources._
    val b = new graft.sources.DirTailScanBuilder(schema, "/tmp/x")
    // supported comparisons are accepted; the rest come back unhandled
    val rest = b.pushFilters(Array(
      GreaterThan("id", 1L), EqualTo("kind", "k0"), IsNotNull("score"),
      EqualTo("ts", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")), // ts: refused
      StringContains("kind", "k"))) // not in the subset: refused
    assert(rest.map(_.toString).toSet ==
      Set(EqualTo("ts", java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        StringContains("kind", "k")).map(_.toString))
    assert(b.pushedFilters().length == 3)
    // prune AWAY the filter columns: the scan's visible schema narrows,
    // the reader still evaluates the filters on the union parse
    b.pruneColumns(StructType(Seq(StructField("kind", StringType))))
    assert(b.build().readSchema().fieldNames.toSeq == Seq("kind"))

    // end-to-end through a drain: rows with id <= 1 or kind != k0 must
    // never surface, and only `kind` comes back
    val src = Files.createTempDirectory("dirtail-src")
    val out = Files.createTempDirectory("dirtail-out")
    val ckpt = Files.createTempDirectory("dirtail-ckpt")
    writeFile(src, "a.jsonl", (0L until 12L).map(line))
    val q = spark.readStream.format("graft-dirtail").schema(schema)
      .option("path", src.toString).load()
      .where(col("id") > 1L && col("kind") === "k0")
      .select(col("kind"))
      .writeStream.format("parquet").option("path", out.toString)
      .option("checkpointLocation", ckpt.toString)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out.toString).collect().map(_.getString(0))
    // ids 3, 6, 9 survive (k0 and > 1)
    assert(got.length == 3 && got.forall(_ == "k0"), got.toSeq)
  }

  test("batch read: filter pushdown fires, filter column pruned from scan") {
    val src = Files.createTempDirectory("dirtail-src")
    writeFile(src, "a.jsonl", (0L until 10L).map(line))
    writeFile(src, "b.jsonl", (10L until 16L).map(line))
    val df = spark.read.format("graft-dirtail").schema(schema)
      .option("path", src.toString).load()
      .where(col("id") > 7L)
      .select(col("kind"))
    val plan = df.queryExecution.executedPlan.toString
    // the predicate reached the source...
    assert(plan.contains("PushedFilters: [") &&
      plan.contains("GreaterThan(id,7)"), plan.take(1200))
    // ...and the scan's visible schema is the projection alone — the
    // union parse for the filter column stays inside the reader
    assert(plan.contains("RuntimeFilters") || !plan.contains("id#") ||
      df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.forall(_.output.map(_.name) == Seq("kind")), plan.take(1200))
    assert(df.collect().map(_.getString(0)).sorted.toSeq ==
      (8L until 16L).map(i => s"k${i % 3}").sorted)
    // a second batch read sees files atomically appended since
    writeFile(src, "c.jsonl", (16L until 18L).map(line))
    val again = spark.read.format("graft-dirtail").schema(schema)
      .option("path", src.toString).load().count()
    assert(again == 18L)
  }

  test("pushed-filter evaluation matches SQL comparison semantics") {
    import org.apache.spark.sql.sources._
    import graft.sources.DirTailFilters
    val get: String => Any = {
      case "l" => java.lang.Long.valueOf(5L)
      case "d" => java.lang.Double.valueOf(2.5)
      case "s" => org.apache.spark.unsafe.types.UTF8String.fromString("mid")
      case "n" => null
    }
    assert(DirTailFilters.eval(GreaterThan("l", 4L), get))
    assert(!DirTailFilters.eval(GreaterThan("l", 5L), get))
    assert(DirTailFilters.eval(GreaterThanOrEqual("l", 5L), get))
    assert(DirTailFilters.eval(LessThan("d", 2.6), get))
    assert(DirTailFilters.eval(LessThanOrEqual("d", 2.5), get))
    assert(DirTailFilters.eval(EqualTo("s", "mid"), get))
    assert(!DirTailFilters.eval(EqualTo("s", "other"), get))
    assert(DirTailFilters.eval(LessThan("s", "zz"), get)) // binary order
    // NULL never matches a comparison; IsNotNull is the only null probe
    assert(!DirTailFilters.eval(EqualTo("n", 1L), get))
    assert(!DirTailFilters.eval(LessThan("n", 1L), get))
    assert(!DirTailFilters.eval(IsNotNull("n"), get))
    assert(DirTailFilters.eval(IsNotNull("l"), get))
    // int literal against a long slot (Catalyst emits either width)
    assert(DirTailFilters.eval(EqualTo("l", 5), get))
  }

  test("one AvailableNow drain equals the incremental multi-restart drain") {
    // the offset-determinism claim (DirTailSource.scala scaladoc) made
    // operational: draining everything in one AvailableNow pass and
    // draining the same files across three checkpoint-resumed restarts
    // must land the identical row multiset
    val src1 = Files.createTempDirectory("dirtail-src")
    val out1 = Files.createTempDirectory("dirtail-out")
    val ckpt1 = Files.createTempDirectory("dirtail-ckpt")
    val waves = Seq(0L until 4L, 4L until 9L, 9L until 12L)
    waves.zipWithIndex.foreach { case (ids, i) =>
      writeFile(src1, s"w$i.jsonl", ids.map(line))
      drainOnce(src1, out1, ckpt1) // restart per wave: the incremental path
    }
    val src2 = Files.createTempDirectory("dirtail-src")
    val out2 = Files.createTempDirectory("dirtail-out")
    val ckpt2 = Files.createTempDirectory("dirtail-ckpt")
    waves.zipWithIndex.foreach { case (ids, i) =>
      writeFile(src2, s"w$i.jsonl", ids.map(line)) }
    drainOnce(src2, out2, ckpt2) // everything in one AvailableNow pass
    def canon(out: Path) = spark.read.parquet(out.toString)
      .collect().map(_.toSeq).sortBy(_.toString()).toSeq
    assert(canon(out1) == canon(out2))
    assert(canon(out2).size == 12)
  }

  test("out-of-range integers are rejected, never silently truncated") {
    val src = Files.createTempDirectory("dirtail-src")
    val intSchema = StructType(Seq(StructField("id", IntegerType)))
    // 2^31 wraps to a negative int under Jackson's asInt — must refuse
    writeFile(src, "a.jsonl", Seq("""{"id":2147483648}"""))
    val e = intercept[Exception] {
      spark.read.format("graft-dirtail").schema(intSchema)
        .option("path", src.toString).load().collect()
    }
    def causes(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else t.toString +: causes(t.getCause)
    assert(causes(e).exists(_.contains("int32 range")), causes(e).mkString("\n"))
    // non-integral numbers stay wrong-kind for integer slots
    val src2 = Files.createTempDirectory("dirtail-src")
    writeFile(src2, "a.jsonl", Seq("""{"id":3.7}"""))
    val e2 = intercept[Exception] {
      spark.read.format("graft-dirtail").schema(intSchema)
        .option("path", src2.toString).load().collect()
    }
    assert(causes(e2).exists(_.contains("expected integer")))
    // in-range values still parse
    val src3 = Files.createTempDirectory("dirtail-src")
    writeFile(src3, "a.jsonl", Seq("""{"id":2147483647}"""))
    assert(spark.read.format("graft-dirtail").schema(intSchema)
      .option("path", src3.toString).load()
      .collect().map(_.getInt(0)).toSeq == Seq(Int.MaxValue))
  }

  test("NaN comparisons are never pushed down (Spark orders NaN, we don't)") {
    import org.apache.spark.sql.sources._
    import graft.sources.DirTailFilters
    assert(DirTailFilters.supports(schema, LessThan("score", 2.5)))
    assert(!DirTailFilters.supports(schema, LessThan("score", Double.NaN)))
    assert(!DirTailFilters.supports(schema, EqualTo("score", Double.NaN)))
    assert(!DirTailFilters.supports(schema,
      GreaterThanOrEqual("score", Double.NaN)))
  }

  test("batch write appends epochs; a checkpointed tail resumes onto them") {
    val src = Files.createTempDirectory("dirtail-src")
    val out = Files.createTempDirectory("dirtail-out")
    val ckpt = Files.createTempDirectory("dirtail-ckpt")
    import spark.implicits._
    def frame(ids: Seq[Long]) = ids.map(i =>
        (i, s"k${i % 3}", i + 0.5, new java.sql.Timestamp(i * 1000L)))
      .toDF("id", "kind", "score", "ts")
    frame(0L until 7L).coalesce(2).write.format("graft-dirtail")
      .option("path", src.toString).mode("append").save()
    // the batch read sees the write immediately
    assert(spark.read.format("graft-dirtail").schema(schema)
      .option("path", src.toString).load().count() == 7L)
    drainOnce(src, out, ckpt) // consume epoch 0
    frame(7L until 12L).coalesce(1).write.format("graft-dirtail")
      .option("path", src.toString).mode("append").save()
    drainOnce(src, out, ckpt) // resumes onto exactly the appended suffix
    val got = spark.read.parquet(out.toString)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == (0L until 12L)) // every row exactly once across resumes
    // deterministic epoch-ordered names: claim protocol numbered 0 then 1
    import scala.jdk.CollectionConverters._
    val names = Files.list(src).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl")).toSeq.sorted
    assert(names.count(_.startsWith("part-0000000000-")) == 2, names)
    assert(names.count(_.startsWith("part-0000000001-")) == 1, names)
    // batch claims live in their OWN marker namespace: impersonating the
    // streaming sink's .epoch-N.committed would make a later streaming
    // epoch N silently discard its rows as "already replayed"
    val markers = Files.list(src).iterator().asScala
      .map(_.getFileName.toString).filter(_.contains("epoch")).toSeq.sorted
    assert(markers.contains(".bepoch-0000000000.claimed"), markers)
    assert(markers.contains(".bepoch-0000000001.claimed"), markers)
    assert(!markers.exists(_.startsWith(".epoch-")), markers)
    // typed round trip through the writer's serialize + reader's parse
    val ts = spark.read.format("graft-dirtail").schema(schema)
      .option("path", src.toString).load()
      .where("id = 3").head()
    assert(ts.getDouble(2) == 3.5)
    assert(ts.getTimestamp(3).getTime == 3000L)
  }

  test("batch write into a producer-named dir claims names that sort AFTER everything") {
    val src = Files.createTempDirectory("dirtail-src")
    val out = Files.createTempDirectory("dirtail-out")
    val ckpt = Files.createTempDirectory("dirtail-ckpt")
    import spark.implicits._
    // a producer ships its own naming (the class doc's blessed form):
    // 'part-00001.jsonl' sorts AFTER 'part-0000000000-…', so a naive
    // numeric epoch claim would slot the batch's files INSIDE the
    // already-consumed prefix — duplicates served, new rows skipped
    Files.write(src.resolve("part-00001.jsonl"),
      """{"id": 1, "kind": "k1", "score": 1.5, "ts": 1000000}"""
        .getBytes("UTF-8")): Unit
    drainOnce(src, out, ckpt) // tail consumed the producer file
    Seq((2L, "k2", 2.5, new java.sql.Timestamp(2000L)))
      .toDF("id", "kind", "score", "ts")
      .coalesce(1).write.format("graft-dirtail")
      .option("path", src.toString).mode("append").save()
    import scala.jdk.CollectionConverters._
    val names = Files.list(src).iterator().asScala
      .map(_.getFileName.toString).filter(_.endsWith(".jsonl"))
      .toSeq.sorted
    assert(names.head == "part-00001.jsonl",
      s"the claimed name must sort after the consumed producer file: " +
        s"$names")
    // the checkpointed tail resumes onto EXACTLY the appended row —
    // nothing duplicated, nothing skipped
    drainOnce(src, out, ckpt)
    val got = spark.read.parquet(out.toString)
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1L, 2L), s"offset determinism broken: $got")
  }

  test("a NEW stream incarnation against a used sink dir refuses, never drops rows") {
    val data = Files.createTempDirectory("dirtail-in")
    val out = Files.createTempDirectory("dirtail-sink-out")
    import spark.implicits._
    def runStream(ids: Seq[Long], ckpt: java.nio.file.Path): Unit = {
      ids.map(i => (i, s"k$i", i + 0.5, new java.sql.Timestamp(i * 1000L)))
        .toDF("id", "kind", "score", "ts")
        .write.mode("overwrite").parquet(data.toString)
      val q = spark.readStream
        .schema(spark.read.parquet(data.toString).schema)
        .parquet(data.toString)
        .writeStream.format("graft-dirtail")
        .option("path", out.toString)
        .option("checkpointLocation", ckpt.toString)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    runStream(Seq(1L), Files.createTempDirectory("dirtail-ck1"))
    // a SECOND stream (fresh checkpoint → epoch ids restart at 0)
    // writing to the same dir finds the first stream's epoch-0 marker:
    // silently dropping its staged rows as "already replayed" would be
    // data loss — it must refuse loudly
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
      runStream(Seq(2L), Files.createTempDirectory("dirtail-ck2")))
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).take(8)
      .flatMap(t => Option(t.getMessage)).mkString(" | ")
    assert(msgs.contains("DIFFERENT stream"), msgs)
    // the first stream's rows are intact
    assert(spark.read.format("graft-dirtail").schema(schema)
      .option("path", out.toString).load()
      .collect().map(_.getLong(0)).toSeq == Seq(1L))
  }

  test("malformed JSON fails the batch loudly instead of dropping rows") {
    val src = Files.createTempDirectory("dirtail-src")
    val out = Files.createTempDirectory("dirtail-out")
    val ckpt = Files.createTempDirectory("dirtail-ckpt")
    writeFile(src, "a.jsonl", Seq(line(1), "{not json"))
    val thrown = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      drainOnce(src, out, ckpt)
    }
    assert(thrown.toString.contains("malformed JSON") ||
      Option(thrown.getCause).exists(_.toString.contains("malformed JSON")))
  }
}
