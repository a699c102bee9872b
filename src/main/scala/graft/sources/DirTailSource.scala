package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, IsNotNull, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** `graft-dirtail` — a custom DataSource V2 MICRO-BATCH streaming source:
  * a replayable tail over a directory of immutable newline-delimited JSON
  * files, with DETERMINISTIC offsets.
  *
  * Why it exists: the engine's other streams ride Spark's built-in file /
  * rate-micro-batch sources ([[graft.streaming.StreamSources]]); this is
  * the one public extension surface — implementing a `MicroBatchStream`
  * itself — the library exercises directly, the seam a production system
  * uses to adapt a queue or changelog Spark has no connector for.
  *
  * Offset model (the whole correctness story):
  *   - a data file, once written, is IMMUTABLE (the usual log-shipping
  *     contract; writers stage elsewhere and move in);
  *   - the file list is sorted lexicographically, so producers that name
  *     files monotonically (part-00001, 20260814-...) get arrival order;
  *   - an offset is simply "the first `n` files of that sorted list are
  *     consumed". Batch (start, end] therefore names an exact, stable
  *     file slice: the same offsets ALWAYS replay the same rows, which is
  *     what makes checkpoint recovery and `Trigger.AvailableNow` exact.
  *
  * Scale shape: one `InputPartition` per file — each task reads its own
  * file, nothing routes through the driver but the listing (O(files)
  * metadata, the same economics as [[TxTable]] commits). Records are
  * parsed straight to `InternalRow` against the user schema; unparseable
  * lines fail loudly (a tail that silently drops rows is worse than one
  * that stops).
  *
  * Schema contract: the caller MUST supply `.schema(...)` (JSONL carries
  * no types; guessing them per-batch would make offsets replay
  * DIFFERENT rows under a schema change). Supported field types: long,
  * int, double, string, boolean, timestamp (wire format: epoch MICROS as
  * a JSON number — the same portable convention as
  * [[graft.streaming.StreamSources.kafkaEvents]]). Missing field → null.
  */
class DirTailSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-dirtail"
  override def supportsExternalMetadata(): Boolean = true

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-dirtail requires an explicit .schema(...): JSONL carries no " +
        "types, and schema inference would make replayed offsets decode " +
        "differently across runs")

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table = {
    val path = properties.get("path")
    require(path != null && path.nonEmpty,
      "graft-dirtail requires option(\"path\", <directory>)")
    DirTail.validate(schema)
    new DirTailTable(schema, path)
  }
}

private[sources] class DirTailTable(schema: StructType, path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-dirtail:$path"
  override def schema(): StructType = schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_READ, TableCapability.STREAMING_WRITE,
      TableCapability.BATCH_WRITE)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    DirTail.validate(info.schema())
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite =
          new DirTailStreamingWrite(info.schema(), path,
            info.queryId())
        override def toBatch
            : org.apache.spark.sql.connector.write.BatchWrite =
          new DirTailBatchWrite(info.schema(), path)
      }
    }
  }
  /** Column pruning is the one pushdown that matters for a JSONL tail:
    * Catalyst hands the required columns down
    * (`SupportsPushDownRequiredColumns`) and the reader PARSES only
    * those fields — for a wide event schema projected to two columns,
    * the JSON tokenizer still scans the line but none of the dropped
    * fields are materialized, boxed, or converted (UTF8String copies are
    * the dominant per-row cost). The pruned schema is what
    * `planInputPartitions`' readers decode, so `.explain` shows the
    * narrow ReadSchema exactly like the parquet scans. */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new DirTailScanBuilder(schema, path)
}

private[graft] class DirTailScanBuilder(full: StructType, path: String)
    extends ScanBuilder
    with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
    with org.apache.spark.sql.connector.read.SupportsPushDownFilters {
  private var pruned: StructType = full
  private var pushed: Array[Filter] = Array.empty
  override def pruneColumns(required: StructType): Unit = {
    // keep the FULL schema's field order and types (`required` arrives in
    // Catalyst's order and must not reorder what the reader emits); an
    // empty projection (count(*) over the stream) legitimately prunes to
    // zero fields — the reader then emits empty rows, the COUNT is the data
    val keep = required.fieldNames.toSet
    pruned = StructType(full.fields.filter(f => keep.contains(f.name)))
  }
  /** Accept the comparison/null-check subset [[DirTailFilters]] can
    * evaluate during the parse; everything else is returned unhandled and
    * Spark evaluates it above the scan. An ACCEPTED filter may reference
    * a column the projection later prunes away — the reader parses the
    * union (projection ∪ filter columns) and projects after evaluating,
    * so pushdown never widens what reaches the query. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (ours, rest) = filters.partition(DirTailFilters.supports(full, _))
    pushed = ours
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def build(): Scan = new Scan {
    override def readSchema(): StructType = pruned
    override def toMicroBatchStream(ckpt: String): MicroBatchStream =
      new DirTailStream(pruned, full, pushed, path)
    // BATCH read of the same directory — the backfill/audit access path
    // every tailed log needs ("re-read everything shipped so far as a
    // table"). This is also where filter pushdown actually FIRES:
    // Spark's V2ScanRelationPushDown serves batch relations (the
    // micro-batch planner does not call pushFilters as of Spark 4.1 —
    // the streaming drain evaluates residual predicates above the scan,
    // correct either way).
    override def toBatch: org.apache.spark.sql.connector.read.Batch =
      new org.apache.spark.sql.connector.read.Batch {
        override def planInputPartitions(): Array[InputPartition] =
          DirTail.listing(path)
            .map(f => DirTailPartition(s"$path/$f"): InputPartition)
        override def createReaderFactory(): PartitionReaderFactory =
          DirTailReaderFactory.build(pruned, full, pushed)
      }
    override def description(): String =
      s"graft-dirtail path=$path PushedFilters: ${pushed.mkString("[", ", ", "]")}"
  }
}

/** The pushable-filter subset and its row-side evaluator: =, <, <=, >,
  * >=, IS NOT NULL over top-level long/int/double/string columns —
  * SQL comparison semantics (NULL never matches). Timestamps and
  * booleans are deliberately NOT pushed: their literal encodings vary by
  * caller and a mis-decoded pushed filter silently drops rows, the one
  * failure mode a source must never have. */
private[graft] object DirTailFilters {
  private def pushableCol(schema: StructType, name: String): Boolean =
    schema.fields.exists(f => f.name == name && (f.dataType match {
      case LongType | IntegerType | DoubleType | StringType => true
      case _ => false
    }))
  private def pushableLit(v: Any): Boolean = v match {
    // NaN is NOT pushable: the row-side evaluator uses IEEE ordering
    // (NaN incomparable → no-match) while Spark SQL orders NaN greater
    // than everything and NaN = NaN true — a pushed `value < NaN` would
    // drop every row Spark keeps. Left as a residual filter, Spark
    // evaluates it with its own semantics above the scan.
    case d: java.lang.Double => !d.isNaN
    case _: java.lang.Long | _: java.lang.Integer | _: String => true
    case _ => false
  }
  def supports(schema: StructType, f: Filter): Boolean = f match {
    case EqualTo(a, v)            => pushableCol(schema, a) && pushableLit(v)
    case GreaterThan(a, v)        => pushableCol(schema, a) && pushableLit(v)
    case GreaterThanOrEqual(a, v) => pushableCol(schema, a) && pushableLit(v)
    case LessThan(a, v)           => pushableCol(schema, a) && pushableLit(v)
    case LessThanOrEqual(a, v)    => pushableCol(schema, a) && pushableLit(v)
    case IsNotNull(a)             => pushableCol(schema, a)
    case _                        => false
  }
  /** IEEE comparison, not Double.compareTo: compareTo orders -0.0 below
    * 0.0 (and NaN above everything), which would make a pushed
    * `value = 0.0` silently drop a -0.0 row that Spark's own comparison
    * (SQL semantics: -0.0 = 0.0) would keep — pushdown changing results
    * is the one defect a source must never have. NaN (unreachable from
    * JSON, which has no NaN literal) is incomparable → no-match. */
  private def ieee(a: Double, b: Double): Option[Int] =
    if (a.isNaN || b.isNaN) None
    else if (a == b) Some(0)
    else if (a < b) Some(-1)
    else Some(1)

  /** actual (parsed row slot: java Long/Int/Double/UTF8String/null) vs
    * the filter literal; None = incomparable kinds (treated as no-match). */
  private def cmp(actual: Any, lit: Any): Option[Int] = (actual, lit) match {
    case (a: java.lang.Long, b: java.lang.Long)       => Some(a.compareTo(b))
    case (a: java.lang.Long, b: java.lang.Integer)    => Some(a.compareTo(b.longValue()))
    case (a: java.lang.Integer, b: java.lang.Integer) => Some(a.compareTo(b))
    case (a: java.lang.Integer, b: java.lang.Long)    => Some(a.longValue().compareTo(b))
    case (a: java.lang.Double, b: java.lang.Double)   => ieee(a, b)
    case (a: java.lang.Double, b: java.lang.Long)     => ieee(a, b.doubleValue())
    case (a: java.lang.Double, b: java.lang.Integer)  => ieee(a, b.doubleValue())
    case (a: UTF8String, b: String)                   => Some(a.compareTo(UTF8String.fromString(b)))
    case _                                            => None
  }
  def eval(f: Filter, get: String => Any): Boolean = f match {
    case IsNotNull(a) => get(a) != null
    case EqualTo(a, v) =>
      val x = get(a); x != null && cmp(x, v).contains(0)
    case GreaterThan(a, v) =>
      val x = get(a); x != null && cmp(x, v).exists(_ > 0)
    case GreaterThanOrEqual(a, v) =>
      val x = get(a); x != null && cmp(x, v).exists(_ >= 0)
    case LessThan(a, v) =>
      val x = get(a); x != null && cmp(x, v).exists(_ < 0)
    case LessThanOrEqual(a, v) =>
      val x = get(a); x != null && cmp(x, v).exists(_ <= 0)
    case other => throw new IllegalStateException(
      s"unreachable: $other passed supports()")
  }
}

/** Offset = number of files (of the lexicographically-sorted listing)
  * fully consumed. JSON form is just that integer, human-auditable in the
  * checkpoint's offset log. */
private[sources] case class DirTailOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

private[graft] class DirTailStream(schema: StructType, full: StructType,
                                   filters: Array[Filter], path: String)
    extends MicroBatchStream {

  /** Back-compat two-arg shape (no pushed filters). */
  def this(schema: StructType, path: String) =
    this(schema, schema, Array.empty[Filter], path)

  /** Sorted stable listing (shared [[DirTail.listing]] — stream-closing,
    * dot-staged files invisible, only `*.jsonl`). */
  private def listing(): Array[String] = DirTail.listing(path)

  override def initialOffset(): Offset = DirTailOffset(0L)
  override def latestOffset(): Offset = DirTailOffset(listing().length.toLong)
  override def deserializeOffset(json: String): Offset =
    DirTailOffset(json.trim.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[DirTailOffset].n.toInt
    val e = end.asInstanceOf[DirTailOffset].n.toInt
    val files = listing()
    require(e <= files.length,
      s"offset $e names files the directory no longer has " +
        s"(${files.length} present) — dirtail files must be immutable")
    files.slice(s, e)
      .map(f => DirTailPartition(s"$path/$f"): InputPartition)
  }

  override def createReaderFactory(): PartitionReaderFactory =
    DirTailReaderFactory.build(schema, full, filters)
}

private[graft] case class DirTailPartition(file: String)
    extends InputPartition

private[sources] object DirTailReaderFactory {
  /** parse schema = projection ∪ filter-referenced columns, in the
    * FULL schema's declared order; the reader evaluates pushed filters
    * on the parsed slots and emits only the projected fields. ONE
    * construction shared by the batch and streaming scans so the
    * pruning/filter-union semantics cannot diverge. */
  def build(pruned: StructType, full: StructType,
            filters: Array[Filter]): DirTailReaderFactory = {
    val need = pruned.fieldNames.toSet ++ filters.flatMap(_.references)
    val parseSchema =
      StructType(full.fields.filter(f => need.contains(f.name)))
    new DirTailReaderFactory(parseSchema,
      pruned.fieldNames.map(parseSchema.fieldIndex), filters)
  }
}

private[sources] class DirTailReaderFactory(parseSchema: StructType,
                                            projIdx: Array[Int],
                                            filters: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new DirTailReader(parseSchema, projIdx, filters,
      p.asInstanceOf[DirTailPartition].file)
}

private[sources] class DirTailReader(parseSchema: StructType,
                                     projIdx: Array[Int],
                                     filters: Array[Filter], file: String)
    extends PartitionReader[InternalRow] {
  // stream, don't slurp: a task's memory must not scale with its file
  // size (readAllLines would materialize the whole split at once)
  private val in =
    Files.newBufferedReader(Paths.get(file), StandardCharsets.UTF_8)
  private val mapper = new ObjectMapper()
  private val fieldIdx: Map[String, Int] =
    parseSchema.fieldNames.zipWithIndex.toMap
  // identity fast path: nothing pushed and nothing extra parsed
  private val passThrough =
    filters.isEmpty && projIdx.sameElements(parseSchema.indices)
  private var row: InternalRow = _

  override def next(): Boolean = {
    while (true) {
      var line = in.readLine()
      while (line != null && line.trim.isEmpty) line = in.readLine()
      if (line == null) return false
      val parsed = DirTail.parse(mapper, parseSchema, line, file)
      if (filters.forall(f =>
          DirTailFilters.eval(f, name => parsed.get(fieldIdx(name),
            parseSchema(fieldIdx(name)).dataType)))) {
        row =
          if (passThrough) parsed
          else new GenericInternalRow(projIdx.map(i =>
            parsed.get(i, parseSchema(i).dataType)))
        return true
      } // else: row filtered AT THE SOURCE — skip and keep reading
    }
    false // unreachable
  }
  override def get(): InternalRow = row
  override def close(): Unit = in.close()
}

/** The WRITE side of the dirtail table — a DSv2 `StreamingWrite` whose
  * epoch commit produces exactly the immutable `*.jsonl` files the read
  * side tails, closing the custom-IO loop (stream out through the sink,
  * tail back through the source).
  *
  * Commit protocol (the file-sink recipe without a manifest):
  *   1. each task's [[DirTailDataWriter]] streams rows into a
  *      dot-prefixed staging file (dot = invisible to the tail's
  *      listing, the same in-flight convention the source documents);
  *   2. the task's commit message carries the staged name; the DRIVER's
  *      `commit(epochId, messages)` renames every staged file to its
  *      DETERMINISTIC visible name `part-<epoch>-<partition>.jsonl` and
  *      then publishes an exclusive `.epoch-<id>.committed` marker
  *      through [[PosixLinkPrimitive]] — the same create-exclusive
  *      primitive the TxTable commit stands on;
  *   3. a REPLAYED epoch (restart after a crash between rename and
  *      marker) sees the marker or the already-visible deterministic
  *      names: marker present → drop the new staging files and return
  *      (idempotent); names present → `REPLACE_EXISTING` move is
  *      byte-idempotent because a replayed epoch re-writes the same
  *      batch. Net: each epoch's rows appear in the visible namespace
  *      exactly once, under names that sort in epoch order — so the
  *      tail consumes epochs in commit order.
  *
  * Scale shape: rows never touch the driver — tasks write their own
  * files; the driver moves O(partitions) names per epoch (metadata,
  * TxTable economics). Serialization is the exact inverse of
  * [[DirTail.parse]] (timestamps as epoch-micros numbers). */
private[graft] class DirTailStreamingWrite(schema: StructType, path: String,
                                           queryId: String = "")
    extends StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new DirTailWriterFactory(schema, path)

  override def commit(epochId: Long,
                      messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir): Unit
    val marker = dir.resolve(f".epoch-$epochId%010d.committed")
    val staged = messages.map(_.asInstanceOf[DirTailCommitMessage])
    if (Files.exists(marker)) {
      // a genuine replay (at-least-once foreachBatch semantics) drops
      // its staged duplicates; any other owner means a NEW stream
      // incarnation restarted its epoch ids against a used sink dir
      // (checkpoint reset) — silently dropping ITS rows as "already
      // replayed" would be data loss, refuse loud
      val owner = markerOwner(marker)
      staged.foreach(m => Files.deleteIfExists(dir.resolve(m.staged)): Unit)
      if (isReplay(owner)) return
      throw new IllegalStateException(
        s"dirtail sink $path: epoch $epochId was committed by " +
          s"${ownerText(owner)} — this query's epoch ids restarted " +
          "against a used sink dir (checkpoint reset?); write to a " +
          "fresh directory, or resume the original checkpoint")
    }
    staged.foreach { m =>
      val target = dir.resolve(f"part-$epochId%010d-${m.partitionId}%05d.jsonl")
      Files.move(dir.resolve(m.staged), target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
    }
    // a crashed EARLIER attempt of this epoch may have renamed MORE
    // partitions than this one produced (shuffle partitioning changed
    // across the restart): those stale extras carry rows this attempt
    // redistributed into its own files — reap them before publishing
    // (same unpublished-epoch-not-yet-consumed assumption the
    // REPLACE_EXISTING renames already make)
    val keep = staged.map(m =>
      f"part-$epochId%010d-${m.partitionId}%05d.jsonl").toSet
    val prefix = f"part-$epochId%010d-"
    DirTail.listing(path)
      .filter(n => n.startsWith(prefix) && !keep.contains(n))
      .foreach(n => Files.deleteIfExists(dir.resolve(n)): Unit)
    try PosixLinkPrimitive.publishExclusive(marker,
      queryId.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        // TOCTOU closure: the exists() check above ran before this
        // publish, so a DIFFERENT query's commit can land in between —
        // the rename/reap above then already clobbered the winner's
        // files, and swallowing the collision would leave the epoch
        // silently corrupted. The same owner rule as the pre-check: only
        // this query's own marker is a same-query replay race.
        val owner = markerOwner(marker)
        if (!isReplay(owner))
          throw new IllegalStateException(
            s"dirtail sink $path: epoch $epochId was committed " +
              s"CONCURRENTLY by ${ownerText(owner)} while this query " +
              "(checkpoint reset?) was publishing the same epoch " +
              "number — the epoch's visible files may mix both " +
              "attempts; write to a fresh directory, or resume the " +
              "original checkpoint")
    }
  }

  /** The query id an epoch marker records: empty for a legacy zero-byte
    * marker, None when the marker cannot be read (it vanished — someone
    * is concurrently mutating the epoch). */
  private def markerOwner(marker: java.nio.file.Path): Option[String] =
    try Some(new String(Files.readAllBytes(marker),
      java.nio.charset.StandardCharsets.UTF_8))
    catch { case _: java.io.IOException => None }

  /** THE ONE MARKER-OWNER RULE, shared by the pre-check and the race
    * recheck: an existing epoch marker is this writer's replay only when
    * it records exactly this writer's query id. An unreadable marker
    * proves nothing and is refused; an id-less marker is a replay only
    * for an id-less writer. */
  private def isReplay(owner: Option[String]): Boolean =
    owner.contains(queryId)

  private def ownerText(owner: Option[String]): String = owner match {
    case Some(o) if o.nonEmpty => s"a DIFFERENT stream (query $o)"
    case Some(_) => "a writer that recorded no query id"
    case None => "a writer whose marker vanished mid-race"
  }

  override def abort(epochId: Long,
                     messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    messages.foreach {
      case m: DirTailCommitMessage =>
        Files.deleteIfExists(dir.resolve(m.staged)): Unit
      case _ => ()
    }
  }
}

/** BATCH write into a tailed directory — the backfill/bootstrap dual of
  * the batch READ: `df.write.format("graft-dirtail")` appends one
  * "epoch" of files using the SAME staging/rename/marker discipline as
  * the streaming sink, so the tail's offset determinism survives: the
  * commit CLAIMS the next epoch number past every visible file and
  * every marker of either kind (create-exclusive on its OWN
  * `.bepoch-N.claimed` marker — distinct from the streaming sink's
  * `.epoch-N.committed` replay markers, which a batch claim must never
  * impersonate: a streaming epoch finding a foreign marker under its
  * number would silently discard its rows as "already replayed"; two
  * racing batch writers each get their own number), then renames its
  * staged files to the
  * deterministic `part-<epoch>-<partition>.jsonl` names, which sort
  * AFTER every already-consumed file — a checkpointed tail resumes onto
  * exactly the appended suffix (suite-asserted). ONE writer at a time
  * per directory: two racing batch commits claim distinct epochs but
  * can finish renames out of claim order, and a streaming sink's
  * Spark-assigned epoch ids restart from its own checkpoint — either
  * interleaving can put a new file lexicographically BEFORE an
  * already-consumed one, the one layout the tail's offset determinism
  * cannot survive (the same single-writer assumption the streaming
  * sink already documents). */
private[graft] class DirTailBatchWrite(schema: StructType, path: String)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.DataWriterFactory =
    // a top-level factory: an anonymous one would capture this (non-
    // serializable) BatchWrite into the task closure
    new DirTailBatchWriterFactory(schema, path)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir): Unit
    // the epoch counter starts past EVERYTHING already claimed: visible
    // file names AND both marker kinds (a streaming epoch with zero
    // output files left only its marker — writing under its number
    // would produce files that sort before already-consumed ones)
    val EpochName = "^part-(\\d{10})-.*\\.jsonl$".r
    val MarkerName = "^\\.b?epoch-(\\d{10})\\.(committed|claimed)$".r
    val visible = DirTail.listing(path)
    val fileMax = visible.collect {
      case EpochName(e) => e.toLong
    }.foldLeft(-1L)(math.max)
    val markerMax = {
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString).collect {
        case MarkerName(e, _) => e.toLong
      }.foldLeft(-1L)(math.max)
      finally s.close()
    }
    // the tail's offset determinism needs the claimed names to sort
    // after EVERY visible file — including PRODUCER-NAMED ones the
    // epoch regex never matches ('part-00001.jsonl' sorts AFTER
    // 'part-0000000000-…', so a numeric claim alone could slot the new
    // files inside the already-consumed prefix: duplicates served, new
    // rows permanently skipped). The epoch prefix is monotone in the
    // epoch number, so the smallest safe epoch binary-searches.
    val maxName = visible.foldLeft("")((a, b) => if (a >= b) a else b)
    def sortsAfterAll(e: Long): Boolean = f"part-$e%010d-" > maxName
    val numericFloor = math.max(fileMax, markerMax) + 1
    var epoch =
      if (sortsAfterAll(numericFloor)) numericFloor
      else {
        require(sortsAfterAll(9999999999L),
          s"dirtail batch write into $path: no epoch name can sort " +
            s"after existing file '$maxName' — rename or relocate the " +
            "foreign files")
        var lo = numericFloor
        var hi = 9999999999L
        while (lo < hi) {
          val mid = lo + (hi - lo) / 2
          if (sortsAfterAll(mid)) hi = mid else lo = mid + 1
        }
        lo
      }
    var claimed = false
    var attempts = 0
    while (!claimed && attempts < 10000) {
      // a DISTINCT marker namespace (.bepoch-N.claimed): the streaming
      // sink's replay check looks for ITS marker (.epoch-N.committed),
      // and a batch claim reusing that name would make a later streaming
      // epoch N silently discard its staged rows as "already replayed"
      val marker = dir.resolve(f".bepoch-$epoch%010d.claimed")
      try {
        PosixLinkPrimitive.publishExclusive(marker, Array.emptyByteArray)
        claimed = true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          epoch += 1; attempts += 1
      }
    }
    require(claimed,
      s"dirtail batch write could not claim an epoch under $path after " +
        s"$attempts attempts")
    // renames tracked so a mid-loop IO failure rolls the published
    // prefix back before rethrowing — a half-visible epoch would be
    // consumed by the tail while the caller's retry re-publishes every
    // partition under a NEW epoch (duplicates). Only a hard driver
    // crash mid-loop can still leave a partial epoch (documented
    // single-writer residue; the streaming sink's marker protocol is
    // the crash-safe arm).
    val renamed = scala.collection.mutable.Buffer[java.nio.file.Path]()
    try messages.map(_.asInstanceOf[DirTailCommitMessage]).foreach { m =>
      val target = dir.resolve(f"part-$epoch%010d-${m.partitionId}%05d.jsonl")
      Files.move(dir.resolve(m.staged), target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
      renamed += target
    } catch {
      case e: Throwable =>
        renamed.foreach(p =>
          try Files.deleteIfExists(p): Unit
          catch { case _: Exception => () })
        throw e
    }
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    messages.foreach {
      case m: DirTailCommitMessage =>
        Files.deleteIfExists(dir.resolve(m.staged)): Unit
      case _ => ()
    }
  }
}

/** Serializable task-side factory for the batch write; staging names
  * are uuid-unique, the claimed epoch lands at driver commit time. */
private[graft] class DirTailBatchWriterFactory(schema: StructType,
                                               path: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int,
                            taskId: Long): DataWriter[InternalRow] =
    new DirTailDataWriter(schema, path, partitionId, epochId = 0L)
}

private[sources] case class DirTailCommitMessage(staged: String,
                                                 partitionId: Int,
                                                 rows: Long)
    extends WriterCommitMessage

private[graft] class DirTailWriterFactory(schema: StructType, path: String)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
                            epochId: Long): DataWriter[InternalRow] =
    new DirTailDataWriter(schema, path, partitionId, epochId)
}

private[sources] class DirTailDataWriter(schema: StructType, path: String,
                                         partitionId: Int, epochId: Long)
    extends DataWriter[InternalRow] {
  // task attempts stage under unique names; only the committed attempt's
  // message reaches the driver, abort/close reaps the rest
  private val staged =
    f".stage-$epochId%010d-$partitionId%05d-${java.util.UUID.randomUUID()}.jsonl"
  private val out = {
    Files.createDirectories(Paths.get(path)): Unit
    Files.newBufferedWriter(Paths.get(path).resolve(staged),
      StandardCharsets.UTF_8)
  }
  private val mapper = new ObjectMapper()
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    out.write(DirTail.serialize(mapper, schema, row))
    out.newLine()
    rows += 1
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    DirTailCommitMessage(staged, partitionId, rows)
  }
  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(Paths.get(path).resolve(staged)): Unit
  }
  override def close(): Unit = out.close()
}

private[sources] object DirTail {
  private val Supported: Set[DataType] = Set(LongType, IntegerType,
    DoubleType, StringType, BooleanType, TimestampType)

  /** Sorted stable listing of visible data files, CLOSING the directory
    * stream (an unclosed `Files.list` holds a descriptor until GC — the
    * streaming source lists every trigger, so a leak here walks straight
    * into the process ulimit). Dot-staged files invisible; only
    * `*.jsonl` participates so sinks can share the dir. */
  def listing(path: String): Array[String] = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) Array.empty
    else {
      val s = Files.list(dir)
      try s.iterator().asScala
        .map(_.getFileName.toString)
        .filter(f => f.endsWith(".jsonl") && !f.startsWith("."))
        .toArray.sorted
      finally s.close()
    }
  }

  def validate(schema: StructType): Unit = schema.fields.foreach { f =>
    require(Supported.contains(f.dataType),
      s"graft-dirtail field '${f.name}': unsupported type " +
        s"${f.dataType.simpleString} (supported: bigint, int, double, " +
        "string, boolean, timestamp-as-epoch-micros)")
  }

  /** One InternalRow → JSONL line, the exact inverse of [[parse]]:
    * timestamps as epoch-micros numbers, null fields written as JSON
    * null (parse reads absent and null identically; explicit null keeps
    * lines self-describing). Jackson handles string escaping and
    * shortest-round-trip double formatting. */
  def serialize(mapper: ObjectMapper, schema: StructType,
                row: InternalRow): String = {
    val node = mapper.createObjectNode()
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      if (row.isNullAt(i)) node.putNull(f.name): Unit
      else f.dataType match {
        case LongType      => node.put(f.name, row.getLong(i)): Unit
        case IntegerType   => node.put(f.name, row.getInt(i)): Unit
        case DoubleType    => node.put(f.name, row.getDouble(i)): Unit
        case BooleanType   => node.put(f.name, row.getBoolean(i)): Unit
        case StringType    =>
          node.put(f.name, row.getUTF8String(i).toString): Unit
        case TimestampType => node.put(f.name, row.getLong(i)): Unit
        case other => throw new IllegalStateException(
          s"unreachable: $other passed validate()")
      }
      i += 1
    }
    mapper.writeValueAsString(node)
  }

  /** One JSONL line → InternalRow. Loud on malformed JSON or a value of
    * the wrong JSON kind; null for an absent or JSON-null field. */
  def parse(mapper: ObjectMapper, schema: StructType, line: String,
            file: String): InternalRow = {
    val node: JsonNode =
      try mapper.readTree(line)
      catch {
        case e: Exception => throw new IllegalArgumentException(
          s"graft-dirtail: malformed JSON line in $file: " +
            s"${line.take(120)}", e)
      }
    val vals = new Array[Any](schema.length)
    var i = 0
    while (i < schema.length) {
      val f = schema(i)
      val v = node.get(f.name)
      // kind-checked decode: Jackson's asLong/asBoolean/asText silently
      // coerce the wrong JSON kind (textual ids → 0, numbers → false) —
      // exactly the silent-corruption mode the class doc forbids. A
      // producer schema drift must stop the batch, not zero a column.
      def wrongKind(expected: String): Nothing =
        throw new IllegalArgumentException(
          s"graft-dirtail: field '${f.name}' in $file expected $expected, " +
            s"got JSON ${v.getNodeType}: ${line.take(120)}")
      vals(i) =
        if (v == null || v.isNull) null
        else f.dataType match {
          // isIntegralNumber AND canConvertToLong/Int: Jackson's asInt on
          // an out-of-range long silently TRUNCATES to 32 bits — the same
          // silent-coercion mode this guard exists to forbid. (canConvertTo*
          // alone is not enough either: on a DoubleNode it checks only
          // range, so 3.7 would "convert" to 3.) A value outside the
          // target range is a wrong kind, not a value.
          case LongType =>
            if (v.isIntegralNumber && v.canConvertToLong) v.asLong()
            else wrongKind("integer (int64 range)")
          case IntegerType =>
            if (v.isIntegralNumber && v.canConvertToInt) v.asInt()
            else wrongKind("integer (int32 range)")
          case DoubleType =>
            if (v.isNumber) v.asDouble() else wrongKind("number")
          case BooleanType =>
            if (v.isBoolean) v.asBoolean() else wrongKind("boolean")
          case StringType =>
            if (v.isTextual) UTF8String.fromString(v.asText())
            else wrongKind("string")
          case TimestampType => // epoch micros on the wire
            if (v.isIntegralNumber && v.canConvertToLong) v.asLong()
            else wrongKind("integer micros (int64 range)")
          case other => throw new IllegalStateException(
            s"unreachable: $other passed validate()")
        }
      i += 1
    }
    new GenericInternalRow(vals)
  }
}
