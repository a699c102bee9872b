package perfbench

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import graft.api.{HttpApi, QueryService}
import graft.sources.Catalog
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** JVM side of the benchmark. `run.py` writes a spec file (workload mode,
  * generated inputs, timings) and this program drives the graft classes as
  * a user would, writing raw measurements back as JSON. Data generation,
  * correctness checks and all metric arithmetic stay in Python, so the
  * only code running in this JVM is the program under test plus the
  * clients and the optional job listener.
  *
  * Usage: Harness <spec.json> <out.json>
  */
object Harness {

  val mapper = new ObjectMapper()

  def main(args: Array[String]): Unit = {
    val spec = mapper.readTree(Files.readAllBytes(Paths.get(args(0))))
    val out = mapper.createObjectNode()
    spec.get("mode").asText match {
      case "serve"    => Serve.run(spec, out)
      case "batch"    => Batch.run(spec, out)
      case "selftest" => SelfTest.run(spec, out)
      case m          => throw new IllegalArgumentException(s"unknown mode $m")
    }
    Files.write(Paths.get(args(1)), mapper.writeValueAsBytes(out))
    // HttpApi and Executor leave daemon pools behind; nothing else to wait for
    System.exit(0)
  }

  /** The session profile of graft's own Bench main (same SQL conf), pinned
    * to four cores and with every scratch path under `tmp`. */
  def session(tmp: String): SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.aggregatePushdown", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        "134217728")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "65536")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$tmp/spark-local")
      .config("spark.sql.warehouse.dir", s"$tmp/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def stopSession(s: SparkSession): Unit = {
    s.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  /** Wall-clock start of this JVM, so set-up time includes JVM start. */
  def jvmStartMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime

  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(b.getCollectionTime, 0L)).sum

  /** Used heap after explicit full collections. */
  def heapRetainedBytes(): Long = {
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(100) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
}

/** Records every Spark job with its tags, interval and task totals. Jobs
  * are attributed afterwards by the `graft-query-*` / `graft-count-*` tags
  * that `Executor` attaches, or by time interval for sequential batches. */
final class JobTrace extends SparkListener {

  final class Job(val id: Int, val tags: Seq[String], val name: String,
      val startMs: Long, val stageIds: Seq[Int]) {
    @volatile var endMs: Long = -1L
  }
  final class StageTotals(val tasks: Int, val runMs: Long,
      val shuffleBytes: Long, val spillBytes: Long, val inputRecords: Long)

  val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageOwner = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, StageTotals]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tags = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.job.tags")))
      .map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val last = e.stageInfos.maxBy(_.stageId)
    e.stageIds.foreach(stageOwner.putIfAbsent(_, e.jobId))
    jobs.put(e.jobId, new Job(e.jobId, tags, last.name, e.time, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.merge(i.stageId, new StageTotals(i.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.recordsRead),
        (a, b) => new StageTotals(a.tasks + b.tasks, a.runMs + b.runMs,
          a.shuffleBytes + b.shuffleBytes, a.spillBytes + b.spillBytes,
          a.inputRecords + b.inputRecords))
  }

  /** Listener events arrive asynchronously; wait until every started job
    * has ended and the count is stable. */
  def settle(): Unit = {
    var prev = -1
    var tries = 0
    while (tries < 50 && (jobs.size != prev ||
        jobs.values.asScala.exists(_.endMs < 0))) {
      prev = jobs.size
      Thread.sleep(100)
      tries += 1
    }
  }

  def toJson: ArrayNode = {
    val arr = Harness.mapper.createArrayNode()
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val o = arr.addObject()
      o.put("id", j.id)
      val t = o.putArray("tags")
      j.tags.foreach(t.add)
      o.put("name", j.name)
      o.put("start_ms", j.startMs)
      o.put("end_ms", j.endMs)
      val own = j.stageIds.filter(s => stageOwner.get(s) == j.id)
        .flatMap(s => Option(stages.get(s)))
      o.put("stages", own.size)
      o.put("tasks", own.map(_.tasks).sum)
      o.put("task_ms", own.map(_.runMs).sum)
      o.put("shuffle_bytes", own.map(_.shuffleBytes).sum)
      o.put("spill_bytes", own.map(_.spillBytes).sum)
      o.put("input_records", own.map(_.inputRecords).sum)
    }
    arr
  }
}

/** The serving workload: `HttpApi` over loopback, closed-loop clients.
  * Client 0 owns the rolling collection, whose oldest part file it replaces
  * before every k-th request of its own. */
object Serve {
  import Harness.mapper

  final case class Req(path: String, body: Array[Byte])
  final case class Sample(client: Int, seq: Int, req: Int, gen: Int,
      nanos: Long, status: Int, body: Array[Byte])

  /** Minimal HTTP/1.1 client on one keep-alive socket. Headers and body go
    * out in a single write with TCP_NODELAY, so the client adds no Nagle or
    * delayed-ACK wait of its own to the measured round trip. */
  final class Conn(port: Int) {
    private val sock = new java.net.Socket("127.0.0.1", port)
    sock.setTcpNoDelay(true)
    private val in = new java.io.BufferedInputStream(sock.getInputStream)
    private val os = sock.getOutputStream

    private def line(): String = {
      val b = new java.io.ByteArrayOutputStream()
      var c = in.read()
      while (c != '\n' && c != -1) { if (c != '\r') b.write(c); c = in.read() }
      if (c == -1 && b.size == 0) throw new java.io.EOFException("connection closed")
      b.toString("ISO-8859-1")
    }

    def post(r: Req): (Int, Array[Byte]) = {
      val head = s"POST ${r.path} HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
        "Content-Type: application/json\r\n" +
        s"Content-Length: ${r.body.length}\r\n\r\n"
      os.write(head.getBytes(UTF_8) ++ r.body)
      os.flush()
      val status = line().split(" ")(1).toInt
      var len = 0
      var h = line()
      while (h.nonEmpty) {
        val i = h.indexOf(':')
        if (i > 0 && h.substring(0, i).trim.equalsIgnoreCase("content-length"))
          len = h.substring(i + 1).trim.toInt
        h = line()
      }
      (status, in.readNBytes(len))
    }

    def close(): Unit = sock.close()
  }

  def post(port: Int, r: Req): (Int, Array[Byte]) = {
    val c = new Conn(port)
    try c.post(r) finally c.close()
  }

  def reqs(node: JsonNode): IndexedSeq[Req] =
    node.asScala.map(n => Req(n.get("path").asText,
      mapper.writeValueAsBytes(n.get("body")))).toIndexedSeq

  /** Replaces the oldest part file of the rolling collection with the next
    * pre-generated one. Only client 0 queries that collection, and only
    * between its own requests, so no request is in flight on it. */
  final class Rolling(spec: JsonNode) {
    val dir: Path = Paths.get(spec.get("dir").asText)
    val pool: IndexedSeq[Path] =
      spec.get("pool").asScala.map(n => Paths.get(n.asText)).toIndexedSeq
    val every: Int = spec.get("every").asInt
    private val live = new java.util.ArrayDeque[Path](
      spec.get("initial").asScala.map(n => dir.resolve(n.asText)).toSeq.asJava)
    @volatile var gen = 0

    def replace(): Unit = {
      Files.delete(live.pollFirst())
      val name = f"part-${live.size + gen + 1}%06d.parquet"
      val dst = dir.resolve(name)
      Files.copy(pool(gen % pool.size), dst, StandardCopyOption.REPLACE_EXISTING)
      live.addLast(dst)
      gen += 1
    }
  }

  /** Closed loop: each client sends its next request when the previous
    * reply is in. Runs until `seconds` have passed and at least `minSamples`
    * requests completed (or `3 * seconds`, whichever is first). */
  def drive(port: Int, lists: IndexedSeq[IndexedSeq[Req]], seconds: Double,
      minSamples: Int, rolling: Option[Rolling], record: Boolean)
      : (Seq[Sample], Long) = {
    val done = new AtomicInteger(0)
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()
    val soft = t0 + (seconds * 1e9).toLong
    val hard = t0 + (3 * seconds * 1e9).toLong
    val threads = lists.indices.map { c =>
      new Thread(() => {
        val list = lists(c)
        var conn = new Conn(port)
        var seq = 0
        var now = System.nanoTime()
        while (now < soft || (done.get < minSamples && now < hard)) {
          val r = list(seq % list.size)
          val gen = rolling match {
            case Some(roll) if c == 0 =>
              if (seq > 0 && seq % roll.every == 0) roll.replace()
              roll.gen
            case _ => 0
          }
          val s0 = System.nanoTime()
          val (code, body) =
            try conn.post(r)
            catch { case e: Exception =>
              conn.close()
              conn = new Conn(port)
              (-1, e.toString.getBytes(UTF_8)) }
          now = System.nanoTime()
          done.incrementAndGet()
          if (record || code != 200)
            samples.add(Sample(c, seq, seq % list.size, gen, now - s0, code,
              if (record) body else Array.emptyByteArray))
          seq += 1
        }
        conn.close()
      }, s"bench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (samples.asScala.toSeq, System.nanoTime() - t0)
  }

  def run(spec: JsonNode, out: ObjectNode): Unit = {
    val tmp = spec.get("tmp").asText
    val root = spec.get("sources").asText
    val probe = reqs(spec.get("probe")).head
    val probeTotal = spec.get("probe_total").asLong
    val trace = spec.get("trace").asBoolean

    // set-up, repeated: session + catalog + service + HTTP server, up to the
    // first correct response; the first repetition also pays JVM start
    val setups = out.putArray("setup_ms")
    var live: (SparkSession, Catalog, HttpApi, Int) = null
    val nSetup = spec.get("setups").asInt
    for (i <- 0 until nSetup) {
      val t0 = if (i == 0) Harness.jvmStartMs else System.currentTimeMillis()
      val spark = Harness.session(tmp)
      val catalog = new Catalog(spark, root)
      val api = new HttpApi(new QueryService(spark, catalog))
      val port = api.start()
      val (code, body) = post(port, probe)
      val ok = code == 200 &&
        mapper.readTree(body).path("total_matching").asLong(-1) == probeTotal
      if (!ok) throw new IllegalStateException(
        s"set-up probe failed: HTTP $code ${new String(body, UTF_8)}")
      setups.add(System.currentTimeMillis() - t0)
      if (i < nSetup - 1) { api.stop(); Harness.stopSession(spark) }
      else live = (spark, catalog, api, port)
    }
    val (spark, catalog, api, port) = live

    val rolling = Some(new Rolling(spec.get("rolling")))
    val warm = spec.get("warmup").asScala.map(reqs).toIndexedSeq
    val (warmErr, _) = drive(port, warm, spec.get("warmup_seconds").asDouble,
      0, None, record = false)
    out.put("warmup_errors", warmErr.size)

    val jt = if (trace) Some(new JobTrace) else None
    jt.foreach(spark.sparkContext.addSparkListener)
    val lists = spec.get("clients").asScala.map(reqs).toIndexedSeq
    val gc0 = Harness.gcMs
    val (samples, windowNs) = drive(port, lists, spec.get("seconds").asDouble,
      spec.get("min_samples").asInt, rolling, record = true)
    out.put("gc_ms", Harness.gcMs - gc0)
    out.put("window_ms", windowNs / 1e6)
    out.put("heap_retained_bytes", Harness.heapRetainedBytes())

    val rpath = Paths.get(spec.get("responses").asText)
    val w = Files.newBufferedWriter(rpath, UTF_8)
    try samples.sortBy(s => (s.client, s.seq)).foreach { s =>
      w.write(s"${s.client}\t${s.seq}\t${s.req}\t${s.gen}\t${s.nanos}\t" +
        s"${s.status}\t")
      w.write(new String(s.body, UTF_8).replace('\n', ' '))
      w.write('\n')
    } finally w.close()

    jt.foreach { t =>
      t.settle()
      out.set[JsonNode]("jobs", t.toJson)
      out.set[JsonNode]("layers", Layers.probe(spark, catalog, t,
        spec.get("layer_probes")))
    }
    api.stop()
    Harness.stopSession(spark)
  }
}

/** Direct, timed calls into each layer's public functions, with the same
  * inputs the served requests carry. Only the traced run makes them. */
object Layers {
  import Harness.mapper
  import graft.compile.{FilterCompiler, NlCompiler}
  import graft.ir.MongoJson

  private def micros(reps: Int)(f: => Any): Double = {
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e3
    }.sorted
    ts(reps / 2)
  }

  def probe(spark: SparkSession, catalog: Catalog, jt: JobTrace,
      probes: JsonNode): ObjectNode = {
    val out = mapper.createObjectNode()
    val nl = out.putArray("nl_us")
    val repair = out.putArray("json_repair_us")
    val filt = out.putArray("filter_us")
    val resolveMs = out.putArray("resolve_ms")
    val resolveJobs = out.putArray("resolve_jobs")
    val sc = spark.sparkContext
    probes.asScala.zipWithIndex.foreach { case (p, i) =>
      val input = p.get("input").asText
      val isNl = p.get("path").asText == "/query"
      val spec =
        if (isNl) NlCompiler.compile(input) else MongoJson.parseWithRepair(input)
      val us = micros(200)(
        if (isNl) NlCompiler.compile(input) else MongoJson.parseWithRepair(input))
      (if (isNl) nl else repair).add(us)
      val db = p.get("db").asText
      val coll = p.get("collection").asText
      val tag = s"bench-resolve-$i"
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      val df = try catalog.resolve(db, coll) finally sc.removeJobTag(tag)
      resolveMs.add((System.nanoTime() - t0) / 1e6)
      val schema = df.schema
      filt.add(micros(200)(FilterCompiler.compile(spec.filter, schema)))
      jt.settle()
      resolveJobs.add(jt.jobs.values.asScala.count(_.tags.contains(tag)))
    }
    out
  }
}

/** Declared heavy queries through `SparkEntry.queries`, the way graft's
  * Bench main runs them: `.count()` per op, tracked caches released after
  * each op. The first pass writes each result for the oracle check and
  * builds the memoized fixtures; it is set-up, not timed. */
object Batch {
  import Harness.mapper

  def run(spec: JsonNode, out: ObjectNode): Unit = {
    val tmp = spec.get("tmp").asText
    val dir = spec.get("data").asText
    val ops = spec.get("ops").asScala.map(_.asText).toIndexedSeq
    val results = spec.get("results").asText
    val trace = spec.get("trace").asBoolean
    val spark = Harness.session(tmp)
    val jt = if (trace) Some(new JobTrace) else None
    jt.foreach(spark.sparkContext.addSparkListener)
    val q = graft.SparkEntry.queries

    val oracle = out.putObject("oracle_sql")
    ops.foreach(op => oracle.put(op, graft.SparkEntry.oracleSql(op)))

    val t0 = Harness.jvmStartMs
    ops.foreach { op =>
      q(op)(spark, dir).write.mode("overwrite").parquet(s"$results/$op")
      graft.ext.Dedup.unpersistAll()
    }
    out.put("setup_ms", System.currentTimeMillis() - t0)

    val runs = out.putArray("runs")
    val blocksLeft = out.putArray("rdd_blocks_left")
    val gc0 = Harness.gcMs
    val w0 = System.nanoTime()
    val passes = spec.get("passes").asInt
    for (pass <- 0 until passes) {
      ops.foreach { op =>
        val r = runs.addObject()
        r.put("pass", pass)
        r.put("op", op)
        r.put("start_ms", System.currentTimeMillis())
        val s0 = System.nanoTime()
        val n = try q(op)(spark, dir).count() catch { case _: Exception => -1L }
        r.put("ms", (System.nanoTime() - s0) / 1e6)
        r.put("end_ms", System.currentTimeMillis())
        r.put("count", n)
        graft.ext.Dedup.unpersistAll()
        blocksLeft.add(spark.sparkContext.getRDDStorageInfo
          .map(_.numCachedPartitions.toLong).sum)
      }
    }
    out.put("window_ms", (System.nanoTime() - w0) / 1e6)
    out.put("passes", passes)
    out.put("gc_ms", Harness.gcMs - gc0)
    out.put("heap_retained_bytes", Harness.heapRetainedBytes())
    jt.foreach { t => t.settle(); out.set[JsonNode]("jobs", t.toJson) }
    Harness.stopSession(spark)
  }
}

/** Two concurrent service requests under the job listener, for the test
  * that tag attribution yields disjoint job sets. */
object SelfTest {
  def run(spec: JsonNode, out: ObjectNode): Unit = {
    val spark = Harness.session(spec.get("tmp").asText)
    val jt = new JobTrace
    spark.sparkContext.addSparkListener(jt)
    val svc = new QueryService(spark,
      new Catalog(spark, spec.get("sources").asText))
    val inputs = spec.get("inputs").asScala.map(_.asText).toSeq
    val threads = inputs.map { in =>
      new Thread(() => {
        val r = svc.query(QueryService.QueryRequest(in, "bench",
          spec.get("collection").asText, limit = 10))
        if (r.isLeft) throw new IllegalStateException(r.toString)
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    jt.settle()
    out.set[JsonNode]("jobs", jt.toJson)
    Harness.stopSession(spark)
  }
}
