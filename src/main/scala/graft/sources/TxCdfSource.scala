package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, ReadMaxFiles, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** `graft-txcdf` — a streaming CHANGE-DATA-FEED over a [[TxTable]]:
  * `spark.readStream.format("graft-txcdf").option("path", tableDir)`
  * drains every commit as micro-batches, each row tagged with the
  * `_commit_version` that published it.
  *
  * Offset model (the dirtail discipline applied to the manifest log):
  * an offset IS a committed manifest version — already-published
  * manifests are immutable, so batch `(v_s, v_e]` names an exact,
  * replayable set of versions, and each version's NEW rows are exactly
  * the files its manifest lists that the previous manifest does not
  * (data files are content-addressed `data/<uuid>/part-*`, never
  * reused). Checkpoint recovery and `Trigger.AvailableNow` are exact
  * for free.
  *
  * Append-only contract (the honest part): a commit whose op rewrites
  * or removes rows (`overwrite`, `delete`, `update`, `merge`,
  * `restore`) CANNOT be represented as a pure row feed from added
  * files alone — its added files hold rewritten copies of old rows.
  * Such a commit REFUSES loudly by default; `skipChangeCommits=true`
  * opts into skipping those commits entirely (the Delta option of the
  * same name — the consumer acknowledges it only wants appends).
  * `compact` commits are skipped automatically: compaction moves
  * bytes, never rows, so its "added" files are pure re-copies. v1 and
  * `create` serve as the initial snapshot. `startingVersion=n` starts
  * the feed at version n instead of 1.
  *
  * Scale shape: planning a batch is O(files-in-range) DRIVER metadata
  * (one manifest read per version, consecutive manifests diffed as
  * sets); the rows ship through Spark's own vectorized parquet reader
  * — per version, the added files are handed to a stock
  * [[ParquetTable]] scan and its planned partitions are wrapped with
  * the constant version tag, so the data path is the same
  * one-task-per-split parquet machinery as any batch read, at any
  * number of executors. The wrapped reader appends `_commit_version`
  * per-row via a [[JoinedRow]] — no copy, no codegen break below the
  * scan boundary.
  *
  * Vacuum interplay: serving `(v_s, v_e]` needs manifests `v_s..v_e`
  * retained. A checkpoint that fell behind a vacuum horizon refuses
  * loudly (the standard too-old-offset contract) — silently skipping
  * unreadable history would be data loss.
  */
class TxCdfSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-txcdf"

  private def tablePath(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-txcdf: .option(\"path\", <tx table dir>) is required")
    p
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val dir = tablePath(options)
    val v = TxTable.latestVersion(dir).getOrElse(
      throw new IllegalStateException(
        s"graft-txcdf: no committed version under $dir — the feed's " +
          "schema is the table's committed schema, so the table must " +
          "exist before tailing it"))
    val m = TxTable.readManifestLite(Paths.get(dir), v)
    TxCdfSource.withMetaColumns(m.schema,
      cdc = options.getBoolean("readChangeFeed", false))
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: java.util.Map[String, String]): Table =
    new TxCdfTable(TxCdfSource.withoutMetaColumns(schema),
      properties.get("path"),
      cdc = "true".equalsIgnoreCase(properties.get("readChangeFeed")))
}

private[graft] object TxCdfSource {
  val VersionColumn = "_commit_version"
  val ChangeTypeColumn: String = TxChanges.ChangeTypeCol

  /** `cdc = false`: table + `_commit_version` (the append feed).
    * `cdc = true` (readChangeFeed): table + `_change_type` +
    * `_commit_version` — the Delta CDF stream shape; appends tag
    * 'insert', rewriting commits serve their commit-time change files
    * ([[TxTable.Manifest]] changeDir). */
  def withMetaColumns(table: StructType, cdc: Boolean): StructType = {
    require(!table.fieldNames.contains(VersionColumn) &&
        !table.fieldNames.contains(ChangeTypeColumn),
      s"graft-txcdf: the table already has a '$VersionColumn' or " +
        s"'$ChangeTypeColumn' column")
    val ct =
      if (cdc) Seq(StructField(ChangeTypeColumn,
        org.apache.spark.sql.types.StringType, nullable = false))
      else Nil
    StructType(table.fields ++ ct :+
      StructField(VersionColumn, LongType, nullable = false))
  }

  def withoutMetaColumns(full: StructType): StructType =
    StructType(full.fields.filterNot(f =>
      f.name == VersionColumn || f.name == ChangeTypeColumn))
}

private[graft] class TxCdfTable(tableSchema: StructType, path: String,
                                cdc: Boolean = false)
  extends Table with SupportsRead {
  override def name(): String = s"graft-txcdf:$path"
  override def schema(): StructType =
    TxCdfSource.withMetaColumns(tableSchema, cdc)
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType =
          TxCdfSource.withMetaColumns(tableSchema, cdc)
        override def description(): String = s"graft-txcdf $path"
        override def toMicroBatchStream(ckpt: String): MicroBatchStream = {
          // startingVersion accepts a version number OR a tag name
          // (r20 — the `VERSION AS OF '<name>'` dispatch applied to the
          // stream surface): an integer is a version, anything else
          // resolves through the table's refs, loudly when absent
          val sv = Option(options.get("startingVersion")) match {
            case None => 1L
            case Some(s) => s.toLongOption.getOrElse(
              TxTable.tags(path).getOrElse(s,
                throw new IllegalArgumentException(
                  s"graft-txcdf: startingVersion '$s' is neither a " +
                    s"version number nor a tag of $path (tags: " +
                    s"${TxTable.tags(path).keys.toSeq.sorted
                      .mkString(", ")})")))
          }
          new TxCdfStream(tableSchema, path,
            startingVersion = sv,
            skipChangeCommits =
              options.getBoolean("skipChangeCommits", false),
            options, cdc = cdc)
        }
      }
    }
}

/** A stream position: version `v`, optionally PARTIAL at file index
  * `idx` (`idx = -1` — the legacy form — means v is fully drained;
  * `idx >= 1` means the first `idx` entries of v's immutable, sorted
  * serveable-file list are drained). Exactly-once holds because a
  * published version's file list never changes — the same (v, idx)
  * names the same rows on every replay. JSON stays the bare version
  * number for full offsets, so pre-file-granular checkpoints
  * deserialize unchanged; partial offsets serialize as "v:idx". */
private[sources] case class TxCdfOffset(v: Long, idx: Long = -1L)
    extends Offset {
  override def json(): String = if (idx < 0) v.toString else s"$v:$idx"
}

private[sources] object TxCdfOffset {
  def parse(json: String): TxCdfOffset = json.split(':') match {
    case Array(v) => TxCdfOffset(v.toLong)
    case Array(v, i) => TxCdfOffset(v.toLong, i.toLong)
    case _ => throw new IllegalArgumentException(
      s"graft-txcdf: unparseable offset '$json'")
  }
}

private[graft] class TxCdfStream(tableSchema: StructType, dir: String,
    startingVersion: Long, skipChangeCommits: Boolean,
    options: CaseInsensitiveStringMap,
    cdc: Boolean = false) extends MicroBatchStream
  with SupportsAdmissionControl with SupportsTriggerAvailableNow {
  require(startingVersion >= 1L,
    s"graft-txcdf: startingVersion must be >= 1, got $startingVersion")

  /** ADMISSION CONTROL: `maxVersionsPerTrigger=n` caps each micro-batch
    * at n manifest versions — the file source's maxFilesPerTrigger
    * discipline with versions as the unit, which is what bounds a batch
    * to a commit's worth of work when a restarted stream faces a long
    * backlog (without it, the catch-up batch is the WHOLE backlog). */
  private val maxVersionsPerTrigger: Option[Int] =
    Option(options.get("maxVersionsPerTrigger")).map { s =>
      val n = s.toInt
      require(n >= 1, s"graft-txcdf: maxVersionsPerTrigger must be " +
        s">= 1, got $n")
      n
    }
  /** FILE-GRANULAR admission (the Delta/file-source
    * `maxFilesPerTrigger` / `maxBytesPerTrigger` dual): a single
    * table-sized version — an initial snapshot, an overwrite backfill —
    * is no longer one giant batch; the offset advances THROUGH the
    * version's immutable sorted file list ([[TxCdfOffset]] idx), so a
    * restarted replica stream facing a 100k-file overwrite drains it
    * as bounded micro-batches with a checkpoint between each. At least
    * one file is always admitted per batch (a byte cap smaller than
    * one file over-shoots by that file, the standard file-source
    * contract), so the stream never stalls. */
  private val maxFilesPerTrigger: Option[Int] =
    Option(options.get("maxFilesPerTrigger")).map { s =>
      val n = s.toInt
      require(n >= 1, s"graft-txcdf: maxFilesPerTrigger must be " +
        s">= 1, got $n")
      n
    }
  private val maxBytesPerTrigger: Option[Long] =
    Option(options.get("maxBytesPerTrigger")).map { s =>
      val n = s.toLong
      require(n >= 1L, s"graft-txcdf: maxBytesPerTrigger must be " +
        s">= 1, got $n")
      n
    }
  private def currentLatest: Long =
    math.max(TxTable.latestVersion(dir).getOrElse(0L), startingVersion - 1)
  // Trigger.AvailableNow pins the drain's end BEFORE the first batch so
  // a concurrent writer cannot keep the "drain everything then stop"
  // query alive forever; batches still respect the per-trigger cap
  private var availableNowEnd: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnd = Some(currentLatest)

  override def initialOffset(): Offset = TxCdfOffset(startingVersion - 1)
  override def getDefaultReadLimit: ReadLimit =
    if (maxVersionsPerTrigger.isEmpty && maxFilesPerTrigger.isEmpty &&
        maxBytesPerTrigger.isEmpty) ReadLimit.allAvailable()
    else ReadLimit.maxFiles(maxFilesPerTrigger
      .orElse(maxVersionsPerTrigger).getOrElse(Int.MaxValue))
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[TxCdfOffset]
    val latest = availableNowEnd.getOrElse(currentLatest)
    // a ReadAllAvailable limit (no caps configured, or an explicit
    // drain-everything trigger) ends at the pinned/current head, whole
    if (limit.isInstanceOf[
        org.apache.spark.sql.connector.read.streaming.ReadAllAvailable])
      return if (latest > s.v || s.idx >= 0) TxCdfOffset(latest) else s
    if (maxFilesPerTrigger.isEmpty && maxBytesPerTrigger.isEmpty) {
      // versions-only cap: pure offset arithmetic, zero manifest IO
      // (the pre-file-granular fast path). A partial start counts its
      // remainder as the first of the n versions.
      val n = maxVersionsPerTrigger.getOrElse(Int.MaxValue).toLong
      val base = if (s.idx >= 0) s.v - 1 else s.v
      val end = math.min(latest, base + n)
      return if (end > s.v || (end == s.v && s.idx >= 0))
        TxCdfOffset(end) else s
    }
    // file/byte caps: walk the backlog's manifests (lite — O(batch
    // files) driver metadata, the same walk planning re-runs) and stop
    // mid-version when a cap lands inside one
    val root = Paths.get(dir)
    val vCap = maxVersionsPerTrigger.getOrElse(Int.MaxValue)
    val fCap = maxFilesPerTrigger.map(_.toLong).getOrElse(Long.MaxValue)
    val bCap = maxBytesPerTrigger.getOrElse(Long.MaxValue)
    val startV = if (s.idx >= 0) s.v else s.v + 1
    if (startV > latest) return s
    var prevFiles: Set[String] =
      if (startV <= 1L) Set.empty
      else manifestOrRefuse(startV - 1).files.toSet
    var files = 0L; var bytes = 0L; var versionsUsed = 0
    var v = startV
    var out = s
    var stop = false
    while (v <= latest && !stop) {
      val m = manifestOrRefuse(v)
      val fs = serveableFiles(v, m, prevFiles)
      prevFiles = m.files.toSet
      val from = if (v == s.v && s.idx >= 0) s.idx.toInt else 0
      var i = from
      while (i < fs.length && files < fCap && bytes < bCap) {
        files += 1
        // a failed size probe must SURFACE, not count as 0 bytes —
        // swallowing it would admit arbitrarily many files past the
        // byte budget with no signal, and planInputPartitions would
        // fail loudly on the same missing file one step later anyway
        bytes += java.nio.file.Files.size(root.resolve(fs(i)))
        i += 1
      }
      if (i < fs.length) { // a cap landed inside this version
        out = TxCdfOffset(v, i); stop = true
      } else {
        out = TxCdfOffset(v)
        versionsUsed += 1
        if (versionsUsed >= vCap || files >= fCap || bytes >= bCap)
          stop = true
        v += 1
      }
    }
    if (out == TxCdfOffset(s.v, s.idx)) s else out
  }
  override def reportLatestOffset(): Offset = TxCdfOffset(currentLatest)
  override def latestOffset(): Offset = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead of this " +
      "method (SupportsAdmissionControl)")
  override def deserializeOffset(json: String): Offset =
    TxCdfOffset.parse(json)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  private def manifestOrRefuse(v: Long): TxTable.Manifest = {
    require(TxTable.versionExists(dir, v),
      s"graft-txcdf: manifest v$v of $dir is gone (vacuumed?) but the " +
        "stream's checkpoint still needs it — the feed cannot skip " +
        "unreadable history silently. Restart from a fresh checkpoint " +
        "(full replay of the current snapshot) or retain more versions")
    // lite: a per-version walk must not pay bloom-sidecar IO it never
    // consumes (the feed plans from file lists and per-commit metadata)
    TxTable.readManifestLite(Paths.get(dir), v)
  }

  /** Ops whose added files are genuinely NEW rows. `v1`/`create` are
    * the initial snapshot; everything in a fresh table is an insert.
    * `stream:<appId>:<batchId>` IS an append — the exactly-once sink's
    * op label (TxSink) — and the table type MOST likely to be tailed:
    * without this arm the CDF refused every sink-written version. */
  private def servesAdds(v: Long, op: String): Boolean =
    v == 1L || op == "append" || op == "create" ||
      op.startsWith("stream:")

  /** The rows version v serves, as its immutable ORDERED file list —
    * what [[TxCdfOffset]]'s file index counts, so the order must be
    * identical on every replay: added data files in manifest order
    * (sorted at commit) for add-serving commits; commit-time change
    * files path-sorted for the cdc arm; empty for metadata-only,
    * skipped, and refused commits (the refusal itself stays in
    * [[planInputPartitions]] — admission must not throw while
    * measuring a backlog it may never be asked to serve). */
  private def serveableFiles(v: Long, m: TxTable.Manifest,
                             prevFiles: Set[String]): Seq[String] =
    if (servesAdds(v, m.op)) m.files.filterNot(prevFiles)
    else if (cdc && m.changeDir.isDefined && !skipChangeCommits)
      TxTable.walkParquet(Paths.get(dir).resolve(m.changeDir.get))
        .map(_.toString).sorted
    else Nil

  /** Files spell renamed columns by their PHYSICAL names
    * ([[TxTable.Manifest]] columnMapping) — stable across the whole
    * history, so one translation of the stream's pinned logical schema
    * serves every version's reads; rows bind positionally to the
    * declared logical readSchema (a rename never moves or retypes a
    * column). Resolved EAGERLY at stream construction, not lazily at
    * first plan: a lazy read of the then-latest manifest could
    * translate the pinned schema through a mapping keyed on logical
    * names the table no longer spells (pinned at 'b', renamed b→c
    * before first use: 'b' falls through as its own "physical" name
    * and the by-name parquet read of files spelling 'a' yields all-NULL
    * columns, silently). The pinned logical names must MATCH the
    * current manifest's — a mismatch means a rename slipped between
    * schema inference and stream start, and the honest move is the
    * same loud restart contract the widen arm uses. A rename AFTER
    * this point is benign: it changes no physical name, and staging
    * keeps writing the original physical spellings. */
  private val physSchema: StructType =
    TxTable.latestVersion(dir) match {
      case Some(v) =>
        val m = TxTable.readManifestLite(Paths.get(dir), v)
        val logical = m.schema
        require(logical.fieldNames.toSeq == tableSchema.fieldNames.toSeq,
          s"graft-txcdf: the stream's schema was pinned as " +
            s"${tableSchema.fieldNames.mkString(",")} but $dir now " +
            s"spells ${logical.fieldNames.mkString(",")} — a column " +
            "rename landed between schema inference and stream start; " +
            "restart the stream so it re-infers the renamed schema")
        TxTable.physicalSchema(tableSchema, m.columnMapping)
      case None => tableSchema
    }

  /** A widen commit is benign iff the stream's pinned schema already
    * spells the widened types — true exactly when the stream started
    * at-or-after the widen (inferSchema read the post-widen manifest). */
  private def widenIsBenign(m: TxTable.Manifest): Boolean = {
    val post = m.schema
    post.fields.map(f => (f.name, f.dataType)).toSeq ==
      tableSchema.fields.map(f => (f.name, f.dataType)).toSeq
  }

  override def planInputPartitions(start: Offset,
                                   end: Offset): Array[InputPartition] = {
    val so = start.asInstanceOf[TxCdfOffset]
    val eo = end.asInstanceOf[TxCdfOffset]
    val root = Paths.get(dir)
    val parts = Array.newBuilder[InputPartition]
    // readChangeFeed mode appends the constant change tag before the
    // version: appends are 'insert's; rewriting commits serve their
    // commit-time change files (the _change_type column lives in THOSE
    // files' bytes)
    def insertTag: Seq[Any] =
      if (cdc) Seq(org.apache.spark.unsafe.types.UTF8String
        .fromString("insert"))
      else Nil
    // a partial START offset re-enters its version at the recorded
    // file index; a partial END offset stops inside its version — both
    // slice the same immutable serveable-file order admission counted
    val vStart = if (so.idx >= 0) so.v else so.v + 1
    // walk the range once, carrying the previous manifest's file set so
    // each manifest is read exactly once
    var prevFiles: Set[String] =
      if (vStart <= 1L) Set.empty
      else manifestOrRefuse(vStart - 1).files.toSet
    (vStart to eo.v).foreach { v =>
      val m = manifestOrRefuse(v)
      val all = serveableFiles(v, m, prevFiles)
      val from = if (v == so.v && so.idx >= 0) so.idx.toInt else 0
      val until = if (v == eo.v && eo.idx >= 0) eo.idx.toInt
        else all.length
      val added = all.slice(from, until)
      prevFiles = m.files.toSet
      val idParts = TxTransforms.identityNames(m)
      if (servesAdds(v, m.op)) {
        if (added.nonEmpty) {
          if (idParts.isEmpty) {
            val scan = ParquetTable(s"txcdf $dir v$v",
              SparkSession.active, options,
              added.map(f => root.resolve(f).toString).toList,
              Some(physSchema), classOf[ParquetFileFormat])
              .newScanBuilder(options).build()
            val batch = scan.toBatch
            val factory = batch.createReaderFactory()
            // the version tag rides the shared appended-constants
            // wrapper (the same machinery the partitioned tx scan uses)
            batch.planInputPartitions().foreach(p =>
              parts += AppendedColsPartition(p,
                (insertTag :+ (v: Any)).toArray, factory))
          } else {
            // partitioned: the MANIFEST is the source of partition
            // values, parsed with the SAME helper the batch scan uses
            // (TxTable.partitionValuesFromPath) and appended per-row
            // next to the version constant — never hive basePath
            // discovery, whose separate value-derivation path could
            // diverge on escaping/null-partition edge cases
            val partSet = idParts.toSet
            val dataPhys = StructType(
              physSchema.fields.filterNot(f => partSet(f.name)))
            added.groupBy(f => idParts.map(c =>
                TxTable.partitionValuesFromPath(f, partSet).get(c)))
              .toSeq.sortBy(_._1.toString)
              .foreach { case (vals, fs) =>
                val scan = ParquetTable(s"txcdf $dir v$v",
                  SparkSession.active, options,
                  fs.map(f => root.resolve(f).toString).toList,
                  Some(dataPhys), classOf[ParquetFileFormat])
                  .newScanBuilder(options).build()
                val batch = scan.toBatch
                val factory = batch.createReaderFactory()
                val tail: Array[Any] = (idParts.zip(vals)
                  .map { case (c, v0) => TxTable.catalystPartitionValue(
                    v0, tableSchema(c).dataType) }
                  ++ insertTag :+ (v: Any)).toArray
                batch.planInputPartitions().foreach(p =>
                  parts += AppendedColsPartition(p, tail, factory))
              }
          }
        }
      } else if (cdc && m.changeDir.isDefined &&
          !skipChangeCommits) {
        // readChangeFeed over a rewriting commit that carries
        // commit-time change files (TxTable CdfProperty): the change
        // rows ship through the same stock parquet machinery — ALL
        // table columns (partition values included) plus _change_type
        // live in the files' bytes, only the version is appended. The
        // sliced `added` IS the change-file list here (serveableFiles).
        if (added.nonEmpty) {
          val changeSchema = StructType(physSchema.fields :+
            StructField(TxCdfSource.ChangeTypeColumn,
              org.apache.spark.sql.types.StringType))
          val scan = ParquetTable(s"txcdf-cdc $dir v$v",
            SparkSession.active, options,
            added.toList,
            Some(changeSchema), classOf[ParquetFileFormat])
            .newScanBuilder(options).build()
          val batch = scan.toBatch
          val factory = batch.createReaderFactory()
          batch.planInputPartitions().foreach(p =>
            parts += AppendedColsPartition(p, Array[Any](v), factory))
        }
      } else if (m.op == "widen" && !widenIsBenign(m)) {
        // a widen adds no files, but every SUBSEQUENT append stages at
        // the wider type and this stream's schema was pinned narrow at
        // start — reading those files would fail (or worse). Delta's
        // contract: fail the stream loudly; a restart re-infers the
        // widened schema, under which every older narrow file promotes
        // losslessly. A stream that STARTED at-or-after the widen
        // already carries the wide schema and sails through.
        throw new IllegalStateException(
          s"graft-txcdf: version $v of $dir widened a column type, but " +
            "this stream's schema was pinned before the widen — " +
            "restart the stream (the checkpoint offset is still valid; " +
            "the restarted stream infers the widened schema and reads " +
            "older files through parquet's lossless promotion)")
      } else if (m.op == "compact" || m.op == "zorder" ||
          m.op == "constraint" || m.op == "evolve" ||
          m.op == "property" || m.op == "purge" || m.op == "rename" ||
          m.op == "widen" || skipChangeCommits) {
        // compaction and z-order re-copy rows they do not change, and a
        // constraint registration, metadata-only schema evolution, or
        // column rename adds no files at all — never changes; other
        // rewrites skip only under the opt-in
      } else {
        throw new IllegalStateException(
          s"graft-txcdf: version $v of $dir is a '${m.op}' commit that " +
            "rewrites or removes rows — a pure-append feed cannot " +
            "represent it. Set tx.changeDataFeed=true on the table and " +
            "read with readChangeFeed=true to receive such commits as " +
            "change rows (commits made BEFORE the property have no " +
            "change files), pass skipChangeCommits=true to skip them " +
            "deliberately, or backfill with TxTable.diff")
      }
    }
    parts.result()
  }

  override def createReaderFactory(): PartitionReaderFactory =
    AppendedColsReaderFactory
}
