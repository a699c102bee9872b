package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructField, StructType}

/** Transactional parquet table via a manifest log — the minimal
  * Delta/Iceberg-shaped commit contract a long-lived 100 TB corpus needs
  * on top of raw directories: atomic visibility (a reader never sees a
  * half-written commit), snapshot isolation (a query reads ONE version's
  * file list, concurrent writers never corrupt it), optimistic
  * concurrency (two writers racing the same version: exactly one wins,
  * the other fails LOUDLY instead of silently interleaving files), and
  * time travel (every historical version stays readable until vacuumed).
  *
  * Layout:
  * {{{
  *   <table>/data/<commit-uuid>/part-*.parquet   — immutable data files
  *   <table>/_txlog/v00001.json …                — one commit DELTA per version
  *   <table>/_txlog/v00020.ckpt.json …           — periodic full checkpoints
  *   <table>/_txlog/blooms/<sha>.json            — immutable bloom sidecars
  * }}}
  *
  * The log is INCREMENTAL (the Delta-Lake checkpoint+actions shape): a
  * commit writes only its own actions — files added/removed, stats for
  * changed files, a content-addressed sidecar for new blooms, and the
  * (small) table metadata — so commit metadata is O(changed files), not
  * O(live files); at a million files the difference between kilobytes
  * and gigabytes of driver JSON per commit, paid by EVERY micro-batch
  * of the streaming sink. Every `tx.checkpointInterval` versions (and
  * at vacuum's retention boundary) the committer also materializes the
  * full state as a checkpoint, so a snapshot load is one checkpoint
  * read plus a bounded delta-tail replay — never a full-history replay.
  * Per-file blooms live OUTSIDE the version documents in immutable,
  * content-addressed sidecar files referenced by path: a file's bloom
  * never changes, so every subsequent commit and checkpoint reuses the
  * reference instead of re-serializing ~2 KiB per file-column. Data
  * files are immutable and shared across versions: `append` writes only
  * the new files; `overwrite` leaves prior versions' files for time
  * travel. Old-format manifests (pre-incremental full file lists) stay
  * readable and act as replay bases.
  *
  * Commit protocol: data files land first under a commit-unique
  * directory no reader references yet; the manifest is then PUBLISHED
  * through a [[CommitPrimitive]] — an atomic create-exclusive write
  * that fails with `FileAlreadyExistsException` when the version was
  * taken, which is the entire conflict check. The default
  * [[PosixLinkPrimitive]] uses POSIX link(2); an object store swaps in
  * a conditional-PUT primitive (the trait is the documented, tested
  * port seam), exactly as the published lakehouse designs do.
  *
  * Scale notes: commits move only metadata through the driver (the file
  * listing — O(files), never rows); reads hand Spark the resolved file
  * list so planning, pruning, and scan parallelism are plain parquet.
  */
/** The single atomic primitive the whole commit protocol stands on:
  * publish `bytes` at `target` iff no file exists there, atomically.
  * Everything else in [[TxTable]] is plain metadata plumbing, so porting
  * the table to an object store means swapping THIS ONE implementation
  * for a conditional PUT (`If-None-Match: *`) or a commit service —
  * exactly the seam the published lakehouse designs isolate. The
  * contract is tested against both the POSIX impl and an in-memory
  * conditional-PUT double (`TxTableSpec` OCC race tests). */
trait CommitPrimitive {
  /** Atomically create `target` with `bytes`; throw
    * `java.nio.file.FileAlreadyExistsException` when `target` exists
    * (the losing side of the OCC race). Partial content must never be
    * visible at `target`. */
  def publishExclusive(target: Path, bytes: Array[Byte]): Unit
}

/** Single-filesystem impl: write fully to a temp name in the same
  * directory, then `Files.createLink` it into place — POSIX link(2) is
  * atomic and create-exclusive, so it either publishes the complete
  * file or fails because the name was taken. (Atomic RENAME would not
  * do: rename(2) silently REPLACES an existing target, so the
  * exclusivity check would be a non-atomic pre-check and two racing
  * writers could both "win" — link(2) is the one POSIX call whose
  * failure IS the conflict detection.) */
object PosixLinkPrimitive extends CommitPrimitive {
  def publishExclusive(target: Path, bytes: Array[Byte]): Unit = {
    val tmp = target.getParent
      .resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, bytes)
    try Files.createLink(target, tmp)
    finally Files.deleteIfExists(tmp): Unit
  }
}

/** Object-store-shaped impl: the commit decision is a conditional PUT —
  * `putIfAbsent` on a strongly-consistent key space (here an in-process
  * map standing in for the store's `If-None-Match: *` / precondition
  * API), with the byte write FOLLOWING the won race. That ordering is
  * the point: in an object store the key space, not the filesystem, is
  * the source of truth, so the file write needs no atomicity of its own
  * — a second writer already lost at the PUT. This is the second live
  * implementation of the port seam (not a test double): swapping the
  * `ConcurrentHashMap` for an S3/GCS precondition call is a one-line
  * change, and the OCC race suite (`TxTableSpec`) runs the SAME
  * contention property over both primitives.
  *
  * Scope: one namespace per JVM (`ConcurrentHashMap` semantics — the
  * strong CAS every real object store provides across processes). Use
  * [[PosixLinkPrimitive]] when multiple DRIVER PROCESSES share a POSIX
  * table; this primitive models/serves the object-store deployment. */
class CondPutPrimitive extends CommitPrimitive {
  private val claims =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()
  def publishExclusive(target: Path, bytes: Array[Byte]): Unit = {
    if (claims.putIfAbsent(target.toString, java.lang.Boolean.TRUE) != null)
      throw new java.nio.file.FileAlreadyExistsException(target.toString)
    Files.write(target, bytes): Unit
  }
}

/** Deterministic-race seam for certifying OCC reconciliation: before the
  * wrapped writer's FIRST publish, runs `inject()` — typically a
  * competing commit through the plain primitive — then delegates, so the
  * wrapped writer provably loses its intended version and must take the
  * rebase path (or refuse). Turns the nondeterministic two-thread race
  * into a repeatable fixture; the production protocol is untouched (the
  * injection happens around the same create-exclusive call every real
  * writer uses). */
class ConflictInjectingPrimitive(inner: CommitPrimitive,
                                 inject: () => Unit) extends CommitPrimitive {
  private var fired = false
  def publishExclusive(target: Path, bytes: Array[Byte]): Unit = {
    val doInject =
      synchronized { if (!fired) { fired = true; true } else false }
    if (doInject) inject()
    inner.publishExclusive(target, bytes)
  }
}

/** Source `Filter` → `Column` for the copy-on-write DELETE rewrite: the
  * row-keep predicate must evaluate the EXACT condition Spark pushed
  * (manifest stats only prune files; rows inside a touched file still
  * need the real test). Total over the filter algebra Spark's DELETE
  * path emits; None for shapes it never produces on a flat schema —
  * [[TxTable.deleteWhere]] refuses those loudly rather than guessing. */
private[sources] object SourceFilterColumns {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.{col, lit}
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v)            => Some(col(a) === lit(v))
    case EqualNullSafe(a, v)      => Some(col(a) <=> lit(v))
    case GreaterThan(a, v)        => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v)           => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v)    => Some(col(a) <= lit(v))
    case In(a, vs)                => Some(col(a).isin(vs.toSeq: _*))
    case IsNull(a)                => Some(col(a).isNull)
    case IsNotNull(a)             => Some(col(a).isNotNull)
    case StringStartsWith(a, v)   => Some(col(a).startsWith(v))
    case StringEndsWith(a, v)     => Some(col(a).endsWith(v))
    case StringContains(a, v)     => Some(col(a).contains(v))
    case AlwaysTrue()             => Some(lit(true))
    case AlwaysFalse()            => Some(lit(false))
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) }
      yield lc && rc
    case Or(l, r)  => for { lc <- toColumn(l); rc <- toColumn(r) }
      yield lc || rc
    case Not(c)    => toColumn(c).map(!_)
    case _ => None
  }
}

object TxTable {

  private val LogDir = "_txlog"

  /** `txns` is the Delta-style application-transaction high-water-mark
    * map (`appId -> last recorded version`), carried forward verbatim by
    * EVERY commit (append, overwrite, compaction alike) and merged with
    * the committing writer's own stamp. Because the LATEST manifest
    * always holds the full map, an idempotent writer's watermark
    * survives [[TxTable.vacuum]] expiring the historical manifest that
    * first recorded it — reading history for watermarks would not. */
  /** `stats`: per-file column min/max for FILE SKIPPING
    * ([[TxStats]] scaladoc) — computed once at commit from the new
    * files' footers, carried forward with the files they describe;
    * absent entries simply never skip. */
  /** `partitionColumns`: the table's hive-style partition layout (empty
    * = flat). Partition values live in each file's PATH, not its bytes;
    * they are ALSO recorded as min=max entries in `stats`, so partition
    * pruning IS the existing stats-skipping layer — zero bespoke
    * pruning code, and the same conservative-skip guarantees. */
  /** `dvDirs`: live deletion-vector sidecar dirs (`data/dv-<uuid>`),
    * each a parquet dataset of (file, pos) tombstones — a row of the
    * snapshot is DELETED iff its (physical file rel path, in-file row
    * index) appears in ANY listed dir. Keys are physical paths, so an
    * entry whose data file left the snapshot is stale-but-harmless
    * (it can never match); [[purgeDeletes]] is the hygiene pass.
    * `properties`: table configuration (`tx.*` keys), carried forward
    * by every commit like constraints. */
  /** `columnMapping`: LOGICAL column name → PHYSICAL column name (the
    * name actually written in parquet file bytes, stats keys, and bloom
    * keys), with identity entries omitted — empty means every column's
    * physical name is its logical name. This is the column-id-mapping
    * idea behind Delta/Iceberg RENAME COLUMN: [[renameColumn]] is a
    * pure metadata commit that changes the LOGICAL schema and records
    * where the bytes still live; files never rewrite, stats and blooms
    * keep their physical keys (skipping survives the rename through
    * [[logicalStats]]/[[logicalBlooms]]), old versions time-travel
    * under their own names, and every reader/writer translates at the
    * plan boundary ([[physicalSchema]]/[[toPhysical]]). */
  /** `bloomRefs`: LOG-LAYER bookkeeping (file → bloom-sidecar rel path,
    * see the incremental-log story on [[publish]]) — populated by
    * [[readManifest]], consumed by the next [[publish]] to carry sidecar
    * references forward without rewriting immutable sidecar bytes.
    * Hand-built manifests (commit paths, rebase recipes) leave it empty;
    * publish never reads its own manifest's refs, only the PREVIOUS
    * (log-read) state's. */
  /** `changeDir`: THIS version's change-data files (`data/cdf-<uuid>`,
    * parquet rows = table schema + `_change_type`), written at commit
    * time by row-level rewrites on `tx.changeDataFeed=true` tables —
    * the Delta CDC design that lets the STREAMING feed serve
    * DELETE/UPDATE/MERGE as change rows instead of refusing. A
    * per-commit attribute, never carried forward: version v's
    * changeDir describes v's own row changes only. */
  final case class Manifest(version: Long, op: String, schemaJson: String,
                            files: Seq[String],
                            txns: Map[String, Long] = Map.empty,
                            stats: Map[String, Map[String, TxStats.ColStat]] =
                              Map.empty,
                            blooms: Map[String, Map[String, TxStats.FileBloom]] =
                              Map.empty,
                            partitionColumns: Seq[String] = Nil,
                            constraints: Map[String, String] = Map.empty,
                            dvDirs: Seq[String] = Nil,
                            properties: Map[String, String] = Map.empty,
                            columnMapping: Map[String, String] = Map.empty,
                            bloomRefs: Map[String, String] = Map.empty,
                            changeDir: Option[String] = None,
                            partitionTransforms: Map[String, String] =
                              Map.empty) {
    /** The committed schema: the one place a manifest's `schemaJson` is
      * parsed. */
    lazy val schema: StructType =
      DataType.fromJson(schemaJson).asInstanceOf[StructType]
  }

  /** Commit `df` as the next version. `mode` is "overwrite" (the new
    * version is exactly this frame) or "append" (this frame plus the
    * previous version's files). Returns the committed version number.
    * Throws `java.nio.file.FileAlreadyExistsException` when another
    * writer took the version first — the caller decides whether the
    * operation is idempotent enough to retry.
    *
    * `opLabel` overrides the op string recorded in the manifest (the
    * commit SEMANTICS stay `mode`). `txn` records an application-level
    * `appId -> version` watermark into the manifest's carried-forward
    * `txns` map — the Delta txnAppId/txnVersion pattern an idempotent
    * writer like [[graft.streaming.TxSink]] uses to skip replays.
    *
    * `mergeSchema = true` opts an append into SCHEMA EVOLUTION (the
    * Delta `mergeSchema` contract): the committed schema becomes the
    * by-name union — table columns in their existing order, then the
    * frame's new columns — and every read fills a file's absent columns
    * with NULL (parquet resolves columns by name, so old files simply
    * lack the new ones). A column present on BOTH sides must keep its
    * type (nullability-insensitive) — silently widening `id: long` to
    * `id: string` is data corruption, not evolution, and refuses
    * loudly. Without the flag, any schema drift refuses as before:
    * evolution must be a deliberate choice, never a producer accident. */
  /** `partitionBy`: `None` INHERITS the table's existing partition
    * layout (the manifest is the table property — an appender or SQL
    * INSERT must not need to restate it); `Some(cols)` declares it
    * (first commit / overwrite relayout); `Some(Nil)` explicitly
    * flattens on overwrite. Partition columns move to the END of the
    * committed schema (the hive convention — also what keeps the
    * delegated parquet scan's dataSchema++partitionSchema output order
    * equal to the committed order), values land in file PATHS and as
    * min=max stats entries so partition pruning rides the existing
    * skipping layer. String/int/long partition types only — path
    * round-trips of timestamps and floats are where layouts lie. */
  /** `partitionSpec`: the TRANSFORM layout (hidden partitioning —
    * [[TxTransforms]] scaladoc): bucket/days/truncate fields derive
    * their path values from a source column at stage time; identity
    * fields behave exactly like `partitionBy` names. Overrides
    * `partitionBy` when given; appends inherit the table's spec. */
  def commit(df: DataFrame, tableDir: String, mode: String,
             opLabel: Option[String] = None,
             txn: Option[(String, Long)] = None,
             primitive: CommitPrimitive = PosixLinkPrimitive,
             mergeSchema: Boolean = false,
             bloomColumns: Seq[String] = Nil,
             requireVersion: Option[Long] = None,
             partitionBy: Option[Seq[String]] = None,
             constraints: Map[String, String] = Map.empty,
             properties: Map[String, String] = Map.empty,
             partitionSpec: Option[Seq[TxTransforms.PartitionField]] =
               None): Long = {
    require(mode == "overwrite" || mode == "append" ||
        mode == "dynoverwrite",
      s"mode must be overwrite|append|dynoverwrite, got '$mode'")
    validateProperties(properties)
    val root = Paths.get(tableDir)
    Files.createDirectories(root.resolve(LogDir))
    // LITE: a commit never evaluates carried blooms — their sidecar
    // references ride forward through the bloom-blind publish, so an
    // append to a million-file bloom-indexed table reads zero sidecars
    val prev0 = latestVersion(tableDir).map(v => readManifestLite(root, v))
    val effSpec: Seq[TxTransforms.PartitionField] =
      partitionSpec
        .orElse(partitionBy.map(_.map(c =>
          TxTransforms.PartitionField(c, "identity", c))))
        .getOrElse(prev0.map(TxTransforms.spec).getOrElse(Nil))
    val effParts: Seq[String] = effSpec.map(_.name)
    val effTransforms: Map[String, String] = effSpec.filterNot(_.isIdentity)
      .map(f => f.name -> TxTransforms.encodeValue(f)).toMap
    val identityParts = effSpec.filter(_.isIdentity).map(_.name)
    if (mode != "overwrite") prev0.foreach(p => require(
      effParts == p.partitionColumns &&
        effTransforms == p.partitionTransforms,
      s"$mode partitioning ${effParts.mkString(",")} does not match " +
        s"the table's ${p.partitionColumns.mkString(",")} — relayout " +
        "with an overwrite commit"))
    // DYNAMIC PARTITION OVERWRITE (the daily-partition-reload shape —
    // Spark's partitionOverwriteMode=dynamic on file tables, Iceberg's
    // replacePartitions): only partitions PRESENT in the frame replace;
    // every other partition's files carry forward verbatim
    if (mode == "dynoverwrite") {
      require(prev0.nonEmpty,
        "dynamic partition overwrite needs an existing table — use " +
          "overwrite for the first commit")
      require(effParts.nonEmpty,
        s"dynamic partition overwrite needs a PARTITIONED table — " +
          s"$tableDir has no partition columns (it would replace " +
          "everything; say overwrite if that is meant)")
    }
    if (effParts.nonEmpty) {
      require(!mergeSchema,
        "mergeSchema is not supported on partitioned tables — evolve " +
          "through an explicit overwrite relayout")
      require(effParts.distinct.size == effParts.size,
        s"duplicate partition columns: ${effParts.mkString(",")}")
      identityParts.foreach(c => require(df.schema.fieldNames.contains(c),
        s"partition column '$c' is not in the frame schema " +
          df.schema.simpleString))
      identityParts.foreach(c => df.schema(c).dataType match {
        case org.apache.spark.sql.types.StringType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"partition column '$c' must be string/int/long, got " +
            s"${other.simpleString} — timestamp/float path round-trips " +
            "are lossy, bucket into a typed column first (or declare " +
            "days(ts))")
      })
      // derived (hidden) fields: the name is layout-only — a schema
      // column by the same name would make paths ambiguous — and the
      // source must exist with a transform-compatible type
      // (deriveColumn validates both, per field, loudly)
      effSpec.filterNot(_.isIdentity).foreach { f =>
        require(!df.schema.fieldNames.contains(f.name),
          s"hidden partition field '${f.name}' collides with a schema " +
            "column — rename one of them")
        TxTransforms.deriveColumn(f, df.schema): Unit
      }
      require(effParts.toSet.intersect(bloomColumns.toSet).isEmpty,
        "bloom columns cannot be partition columns — partition values " +
          "never reach file bytes, the path IS their index")
    }
    // IDENTITY partition columns last in the committed order (scaladoc);
    // derived fields are hidden — never in the schema at all
    val dfOrdered =
      if (identityParts.isEmpty) df
      else df.select((df.schema.fieldNames.toSeq
        .filterNot(identityParts.contains) ++ identityParts)
        .map(functions.col): _*)
    val df2 = dfOrdered
    val prev = prev0
    val committedSchema: StructType = prev match {
      case Some(m) if mode != "overwrite" =>
        val table = m.schema
        if (mergeSchema && mode == "append") mergeSchemas(table, df.schema)
        else {
          // Nullability-insensitive compare: a frame read back from
          // parquet comes out all-nullable, which must still append to a
          // table whose schema was committed from a non-nullable source
          // (same contract as Spark's own insertInto resolution).
          require(asNullable(table) == asNullable(df2.schema),
            s"$mode schema ${df2.schema.simpleString} does not match " +
              s"table schema ${table.simpleString}" +
              (if (mode == "append") " — pass mergeSchema = true to " +
                "evolve deliberately" else ""))
          df2.schema
        }
      case _ => df2.schema
    }
    // CHECK constraints are a TABLE property: carried forward by every
    // commit (the prev manifest is the registry), extended by this
    // commit's `constraints`, and enforced on the INCOMING frame before
    // a single byte stages — a violated write never becomes a version,
    // and never leaves staged files behind. SQL-standard semantics: a
    // row violates only when the expression is FALSE (NULL passes).
    // Cost: one validation job per constraint over the NEW data (never
    // the table) — an extra pass over the frame; persist it upstream
    // when the producing pipeline is expensive. (Delta checks inline in
    // the writer at the price of partially-staged files on violation;
    // validate-first buys the cleaner failure.)
    val effConstraints =
      prev.map(_.constraints).getOrElse(Map.empty) ++ constraints
    enforceConstraints(df2, effConstraints,
      s"the $mode commit to $tableDir")
    // appends (and dynamic overwrites — they keep other partitions'
    // bytes) inherit the table's column mapping (staging renames
    // logical → physical so new files agree with old bytes); an
    // overwrite defines a fresh snapshot — identity mapping
    val effMapping: Map[String, String] =
      if (mode != "overwrite")
        prev.map(_.columnMapping).getOrElse(Map.empty)
      else Map.empty
    // the write→list→stats block is the SHARED staging phase — one
    // implementation serves direct commits and atomic CTAS/RTAS
    // hidden fields derive from the LOGICAL frame (sources are logical
    // names) before the physical rename; derived names are unmapped by
    // construction, so toPhysical passes them through
    val dfDerived = effSpec.filterNot(_.isIdentity).foldLeft(df2)(
      (d, f) => d.withColumn(f.name,
        TxTransforms.deriveColumn(f, df2.schema)))
    val dfPhys = toPhysical(dfDerived, effMapping)
    // table properties resolve BEFORE staging: the optimized-write
    // pre-shuffle is a property of the layout being written to
    val effProps = prev.map(_.properties).getOrElse(Map.empty) ++ properties
    val staged =
      if (effParts.isEmpty) stageData(dfPhys, tableDir)
      else stageDataPartitioned(dfPhys, tableDir, effParts,
        optimizeWrite = optimizeWriteOn(effProps))
    val carried = mode match {
      case "append" => prev.map(_.files).getOrElse(Seq.empty)
      case "dynoverwrite" =>
        // carry every file whose partition-value tuple the staged data
        // does NOT touch; the frame's tuples come from the staged file
        // PATHS — the same derivation every reader uses
        val partSet = effParts.toSet
        val replaced = staged.files
          .map(f => partitionValuesFromPath(f, partSet)).toSet
        prev.map(_.files.filterNot(f =>
          replaced(partitionValuesFromPath(f, partSet))))
          .getOrElse(Seq.empty)
      case _ => Seq.empty
    }
    val version = prev.map(_.version + 1).getOrElse(1L)
    // Zombie/replay guard on the FIRST attempt, not only on the rebase
    // path: a batch id the head ALREADY records means another writer
    // (a failed-over replacement, a replayed micro-batch) committed
    // this transaction between the caller's watermark pre-check and
    // this read — the publish below would succeed WITHOUT a version
    // collision (so rebaseAppend's identical check would never run)
    // and silently duplicate the rows of an exactly-once sink.
    txn.foreach { case (appId, id) =>
      if (prev.exists(_.txns.get(appId).exists(_ >= id))) {
        discardStaged(tableDir, Seq(staged))
        throw new IllegalStateException(
          s"$tableDir: transaction $appId is already recorded at " +
            s"version >= $id — this batch was committed by another " +
            "writer (zombie/replay); committing it again would " +
            "duplicate its rows")
      }
    }
    // `requireVersion` closes the CREATE TOCTOU: a table-creating commit
    // must land as v1 or not at all — if a concurrent writer published
    // first, refusing HERE (before any publish) is what keeps an
    // "empty overwrite" from silently truncating their data, and the
    // v1 create-exclusive publish below settles the remaining race.
    requireVersion.foreach { rv =>
      if (version != rv) {
        discardStaged(tableDir, Seq(staged))
        throw new java.nio.file.FileAlreadyExistsException(
          s"$tableDir: expected to commit v$rv but the table is at " +
            s"v${version - 1}")
      }
    }
    // skipping stats: carried files keep theirs, new files got their
    // footers read once in the staging phase.
    // Set membership, not Seq.contains: a linear probe per stats key is
    // O(files²) driver time on a 100k-file append
    val carriedSet = carried.toSet
    val carriedStats =
      if (mode != "overwrite")
        prev.map(m => m.stats.view.filterKeys(carriedSet).toMap)
          .getOrElse(Map.empty)
      else Map.empty[String, Map[String, TxStats.ColStat]]
    // opt-in point-lookup blooms (TxStats.FileBloom scaladoc): one
    // distributed pass per column over the fresh commit dir; carried
    // files keep the blooms they were committed with
    val carriedBlooms =
      if (mode != "overwrite")
        prev.map(m => m.blooms.view.filterKeys(carriedSet).toMap)
          .getOrElse(Map.empty)
      else Map.empty[String, Map[String, TxStats.FileBloom]]
    val newBlooms = TxStats.buildFileBlooms(df2.sparkSession,
      root.resolve(staged.dataRel), staged.files, dfPhys.schema,
      bloomColumns.map(c => physicalName(effMapping, c)))
    // deletion vectors: an append (or dynamic overwrite — untouched
    // partitions' files keep their tombstones) must carry the
    // snapshot's sidecars (dropping them would RESURRECT deleted rows;
    // entries for replaced files are inert — their paths left the
    // snapshot); a full overwrite replaces every row, so none survive.
    // Table properties are configuration — they survive all modes,
    // like constraints.
    val carriedDvs =
      if (mode != "overwrite") prev.map(_.dvDirs).getOrElse(Nil) else Nil
    val manifest = Manifest(version, opLabel.getOrElse(mode),
      committedSchema.json, carried ++ staged.files,
      prev.map(_.txns).getOrElse(Map.empty) ++ txn,
      carriedStats ++ staged.stats,
      carriedBlooms ++ newBlooms, effParts, effConstraints,
      carriedDvs, effProps, effMapping,
      partitionTransforms = effTransforms)
    if (mode == "append" && requireVersion.isEmpty)
      // A blind append that loses the race AUTO-REBASES onto the new
      // head and retries (Delta/Iceberg conflict resolution): the
      // staged files are base-independent, so only concurrent METADATA
      // changes are real conflicts ([[rebaseAppend]]). This is what
      // lets the exactly-once streaming sink keep committing while
      // compaction/zorder/vacuum maintain the same table.
      publishRebasing(root, manifest, prev,
        rebaseAppend(committedSchema, effParts, effTransforms,
          effConstraints, effProps,
          effMapping, staged.files, staged.stats, newBlooms, txn,
          opLabel.getOrElse(mode)),
        primitive, () => discardStaged(tableDir, Seq(staged)))
    else {
      try publish(root, manifest, prev, primitive)
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          // Lost the commit race: an OVERWRITE defines the whole new
          // snapshot against a head that no longer exists — auto-retry
          // would silently truncate the winner's commit, so it stays a
          // loud refusal. The staged data files are unreachable (no
          // manifest references this data/<uuid> dir), reclaim them.
          discardStaged(tableDir, Seq(staged))
          throw e
      }
      version
    }
  }

  /** The committed (version, op) history, oldest first — O(versions)
    * driver metadata, one manifest read each. What an idempotent writer
    * scans on restart to find its own last recorded transaction id. */
  def history(tableDir: String): Seq[(Long, String)] = {
    val root = Paths.get(tableDir)
    val log = root.resolve(LogDir)
    if (!Files.isDirectory(log)) Seq.empty
    else listNames(log).collect { case VersionName(v) => v }.sorted
      .map(v => v -> readOp(root, v))
  }

  /** The application-transaction watermark recorded for `appId`, read
    * from the LATEST manifest's carried-forward `txns` map — O(1)
    * manifest reads, and vacuum-safe (see [[Manifest]]). */
  def lastTxn(tableDir: String, appId: String): Option[Long] =
    latestVersion(tableDir).flatMap(v =>
      // lite: the streaming sink asks this PER MICRO-BATCH — a txns
      // lookup must never materialize the table's bloom sidecars
      readManifestLite(Paths.get(tableDir), v).txns.get(appId))

  /** Latest committed version, if any commit has ever succeeded. */
  def latestVersion(tableDir: String): Option[Long] = {
    val vs = versions(tableDir)
    if (vs.isEmpty) None else Some(vs.max)
  }

  /** THE ONE HEAD LOOKUP: the latest committed version, or the one loud
    * error for a never-committed table. Every operation on the current
    * snapshot resolves its head here; the caller then picks
    * [[readManifest]] or [[readManifestLite]] for what it consumes. */
  private[graft] def headVersion(tableDir: String): Long =
    latestVersion(tableDir).getOrElse(throw new IllegalStateException(
      s"no committed version under $tableDir/$LogDir"))

  /** Committed version numbers, ascending — log-directory NAMES only,
    * zero manifest reads (history() parses every manifest; an existence
    * or mtime question must not pay that). */
  def versions(tableDir: String): Seq[Long] = {
    val log = Paths.get(tableDir).resolve(LogDir)
    if (!Files.isDirectory(log)) Seq.empty
    else listNames(log).collect { case VersionName(v) => v }.sorted
  }

  /** Does version `v` exist (uncompacted, unvacuumed)? One stat call. */
  def versionExists(tableDir: String, v: Long): Boolean =
    Files.exists(manifestPath(Paths.get(tableDir), v))

  /** Read the latest snapshot. Loud on a never-committed table — an
    * empty frame would silently hide a wrong path. */
  def read(spark: SparkSession, tableDir: String): DataFrame =
    readVersion(spark, tableDir, headVersion(tableDir))

  /** Row-level diff between two committed snapshots — the change-data-feed
    * question ("what changed between version v1 and v2?") answered from
    * snapshots alone, for tables whose commits didn't record row-level
    * changes. MULTISET semantics via `exceptAll` in both directions: a row
    * appearing 3× in v2 and 1× in v1 yields 2 `insert` rows — set-based
    * EXCEPT would silently under-report on tables with legitimate
    * duplicate rows. Output is the snapshot schema plus a `change` column
    * (`insert` rows are in v2 only, `delete` in v1 only); an updated row
    * appears as its delete + its insert, the standard keyless-CDF
    * degeneracy.
    *
    * Scale: `exceptAll` plans as one hash-partitioned count-difference
    * aggregate per direction over exactly the two snapshots' files (the
    * manifests prune everything else); there is no cheaper keyless row
    * diff. Schema drift across an overwrite is rejected loudly — a silent
    * positional comparison of different schemas is how diffs lie. */
  def diff(spark: SparkSession, tableDir: String, v1: Long,
           v2: Long): DataFrame = {
    val a = readVersion(spark, tableDir, v1)
    val b = readVersion(spark, tableDir, v2)
    require(a.schema == b.schema,
      s"diff across schema change: v$v1 is ${a.schema.simpleString}, " +
        s"v$v2 is ${b.schema.simpleString}")
    b.exceptAll(a).withColumn("change", functions.lit("insert"))
      .unionByName(a.exceptAll(b).withColumn("change", functions.lit("delete")))
  }

  final case class VacuumStats(expiredVersions: Seq[Long], deletedFiles: Long,
                               deletedBytes: Long)

  /** Reclaim storage: expire every version older than the newest `retain`
    * manifests, then delete data files no retained manifest references.
    * This is the retention contract `overwrite`'s keep-everything time
    * travel needs at 100 TB — without it a frequently-overwritten table
    * grows without bound (the same reason Delta has VACUUM and Iceberg
    * has expire_snapshots).
    *
    * Safety invariants:
    *   - A file listed by ANY retained manifest is never deleted — the
    *     live set is computed first and checked per file; retained
    *     versions read identically before and after (property-tested in
    *     `TxTableSpec`).
    *   - Expired manifests are removed BEFORE their files: a crash
    *     mid-vacuum leaves orphaned data files (reclaimed by the next
    *     vacuum), never a readable version with missing files.
    *   - `minAgeMillis` guards in-flight commits: a concurrent writer's
    *     data files exist before its manifest publishes, so the default
    *     is a conservative 10 minutes (above any plausible commit
    *     duration — the standard orphan-file age threshold); pass 0
    *     explicitly for quiesced tables and tests.
    *   - Live commits' sidecar files (`_SUCCESS`, checksums) survive:
    *     only `.parquet` files are deleted from directories that still
    *     contain live files; fully-dead commit directories are removed
    *     whole.
    *
    * Cost shape: O(files) metadata + deletes through the driver, zero
    * data movement, no Spark job — the same envelope as commit.
    *
    * AGE-BASED RETENTION (`retainAgeMillis`, r20 — the operator
    * contract users know from Iceberg's `expire_snapshots(older_than,
    * retain_last)` / Delta's `VACUUM RETAIN n HOURS`): when set, a
    * version expires only if it is ALSO older than `now -
    * retainAgeMillis` by its manifest's publish time — `retain` stays
    * the count floor (Iceberg's retain_last). Expiry is always the
    * longest qualifying PREFIX of the version sequence: a young
    * version never strands an older retained one's replay chain (the
    * checkpoint-at-oldest-retained invariant needs contiguity). */
  def vacuum(tableDir: String, retain: Int,
             minAgeMillis: Long = 600000L,
             retainAgeMillis: Option[Long] = None): VacuumStats = {
    require(retain >= 1, s"retain must be >= 1, got $retain")
    retainAgeMillis.foreach(a => require(a >= 0L,
      s"retainAgeMillis must be >= 0, got $a"))
    val root = Paths.get(tableDir)
    val latest = headVersion(tableDir)
    val versions = listNames(root.resolve(LogDir))
      .collect { case VersionName(v) => v }.sorted
    val ageCutoff = retainAgeMillis.map(System.currentTimeMillis() - _)
    def oldEnoughToExpire(v: Long): Boolean = ageCutoff.forall(c =>
      Files.getLastModifiedTime(manifestPath(root, v)).toMillis < c)
    // TAG PIN: expiry never reaches a tagged version — a tag is a
    // promise the snapshot stays readable, and prefix contiguity then
    // protects everything above it too (see [[tag]])
    val tagFloor = tags(tableDir).values.minOption.getOrElse(Long.MaxValue)
    val expired = versions.takeWhile(v =>
      v <= latest - retain && v < tagFloor && oldEnoughToExpire(v))
    val retained = versions.drop(expired.length)
    // Before any delta leaves the log, materialize a checkpoint at the
    // OLDEST retained version: its (and every newer version's) replay
    // must never need an expired delta. Written before deletion, so a
    // crash between the two leaves a complete log either way.
    if (expired.nonEmpty) {
      val oldest = retained.min
      // lite: writeCheckpoint persists REFERENCES (plus any inline
      // old-format blooms, which a lite read still carries) — the
      // retention sweep never needs bloom bytes
      if (!hasCkpt(root, oldest))
        writeCheckpoint(root, readManifestLite(root, oldest))
    }
    val retainedMs = retained.map(v => readManifestLite(root, v))
    val live = retainedMs.flatMap(_.files).toSet
    // deletion-vector sidecars referenced by ANY retained manifest are
    // as live as the data files they tombstone — deleting one would
    // resurrect rows in a still-readable version
    val liveDv = (retainedMs.flatMap(_.dvDirs) ++
      retainedMs.flatMap(_.changeDir)).toSet
    expired.foreach { v =>
      Files.deleteIfExists(manifestPath(root, v))
      Files.deleteIfExists(ckptPath(root, v))
      Files.deleteIfExists(ckptParquetPath(root, v)): Unit
    }
    val dataDir = root.resolve("data")
    val now = System.currentTimeMillis()
    var nFiles = 0L
    var nBytes = 0L
    def oldEnough(p: Path): Boolean =
      now - Files.getLastModifiedTime(p).toMillis >= minAgeMillis
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) listNames(p).flatMap(n => walk(p.resolve(n)))
      else Seq(p)
    // bottom-up removal of directories the file deletes emptied
    def pruneEmpty(p: Path): Unit =
      if (Files.isDirectory(p)) {
        listNames(p).foreach(n => pruneEmpty(p.resolve(n)))
        if (listNames(p).isEmpty) Files.deleteIfExists(p): Unit
      }
    if (Files.isDirectory(dataDir)) {
      listNames(dataDir).foreach { commit =>
        val dir = dataDir.resolve(commit)
        if (Files.isDirectory(dir)) {
          // recursive: a crashed compaction can leave nested scratch
          // files inside a dead commit dir
          val files = walk(dir)
          // manifests store '/'-joined paths; normalize the platform
          // separator so a non-'/' filesystem never misclassifies every
          // live file as dead (which would be silent data loss)
          def rel(p: Path): String =
            root.relativize(p).toString
              .replace(java.io.File.separatorChar, '/')
          def isLive(r: String): Boolean = live.contains(r) ||
            liveDv.exists(d => r == d || r.startsWith(d + "/"))
          val hasLive = files.exists(p => isLive(rel(p)))
          files.foreach { p =>
            val dead = !isLive(rel(p)) &&
              (p.getFileName.toString.endsWith(".parquet") || !hasLive)
            if (dead && Files.isRegularFile(p) && oldEnough(p)) {
              nBytes += Files.size(p)
              Files.delete(p)
              nFiles += 1
            }
          }
          pruneEmpty(dir)
        }
      }
    }
    // bloom sidecars: live iff some retained version's state references
    // them; the age guard spares a sidecar a concurrent commit wrote
    // just before publishing its delta (sidecar lands first by design)
    val liveSidecars = retainedMs.flatMap(_.bloomRefs.values).toSet
    val bloomsDir = root.resolve(BloomsRel)
    if (Files.isDirectory(bloomsDir)) {
      listNames(bloomsDir).foreach { n =>
        val p = bloomsDir.resolve(n)
        if (!liveSidecars.contains(s"$BloomsRel/$n") &&
            Files.isRegularFile(p) && oldEnough(p)) {
          nBytes += Files.size(p)
          Files.delete(p)
          nFiles += 1
        }
      }
    }
    VacuumStats(expired, nFiles, nBytes)
  }

  /** Transactional compaction — OPTIMIZE: rewrite the current snapshot's
    * files into ~`targetBytes` files and commit the result as a NEW
    * version, leaving every prior version time-travelable (and
    * reclaimable by [[vacuum]]). This is the missing consumer of
    * [[Compaction.plan]]: streaming/append ingest leaves a long-lived
    * table as thousands of small files, and scan throughput dies on
    * file-open overhead long before bytes are the bottleneck.
    *
    * The group assignment IS [[Compaction.plan]]'s greedy cumulative
    * fill over the manifest's file inventory (O(files) metadata rows);
    * each group is read distributed and coalesced to one output file —
    * a union of per-group single-partition reads, so the rewrite job
    * writes exactly one file per group and never shuffles a row. The
    * commit races like any other: a concurrent writer taking the
    * version makes this throw loudly rather than clobber.
    *
    * Group rewrites are INDEPENDENT Spark jobs, so they are submitted
    * from a bounded pool of `maxConcurrentJobs` threads (Spark's
    * scheduler is thread-safe and FAIR/FIFO-schedules concurrent jobs):
    * a 1000-group backlog pays ~1000/pool sequential waves of cheap
    * coalesce jobs, not 1000 serialized driver submissions — the
    * difference between minutes and hours on a small-file-heavy 100 TB
    * table. The per-group scratch dirs are disjoint, and the commit
    * point is still the single atomic manifest publish at the end.
    *
    * No-op (returns the current version) on an empty snapshot. */
  /** `scope` (the Delta `OPTIMIZE WHERE` shape): when non-empty, only
    * files the manifest stats/blooms CANNOT prove predicate-free are
    * rewritten — everything else carries forward VERBATIM with its
    * stats and blooms. At 100 TB that is the difference between
    * compacting yesterday's hot partition and rewriting the table; the
    * scoping is conservative (a kept file may hold no matching row —
    * file granularity, like Delta's), and rows never change either
    * way. */
  def compact(spark: SparkSession, tableDir: String,
              targetBytes: Long, maxConcurrentJobs: Int = 8,
              primitive: CommitPrimitive = PosixLinkPrimitive,
              scope: Seq[org.apache.spark.sql.sources.Filter] = Nil)
      : Long = {
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifest(root, v)
    // tombstones fold first: compact's per-group reads are RAW parquet
    // (each group coalesces verbatim — no anti-join), so compacting a
    // tombstoned file would resurrect its deleted rows. purgeDeletes
    // rewrites exactly the affected files, then the (clean) snapshot
    // compacts as usual — two versions, both time-travelable.
    if (m.dvDirs.nonEmpty) {
      purgeDeletes(spark, tableDir, primitive): Unit
      return compact(spark, tableDir, targetBytes, maxConcurrentJobs,
        primitive, scope)
    }
    val schema = m.schema
    if (m.files.isEmpty) return v
    val (scoped, untouched) = partitionFiles(m, scope)
    if (scoped.isEmpty) return v // nothing in scope: version-free no-op
    val partSet = m.partitionColumns.toSet
    // compaction is a RAW byte move: it reads and rewrites files under
    // their PHYSICAL column names, never relabeling
    val dataSchema = physicalSchema(
      StructType(schema.fields.filterNot(f => partSet(f.name))),
      m.columnMapping)
    // the partition-dir portion of a file's path: the hive `col=value`
    // segments whose NAME is one of the table's layout fields (never
    // positional — a CLONED table's files are ABSOLUTE source paths
    // whose prefix depth varies, and a foreign prefix may itself
    // contain '=' dirs like /mnt/env=prod/ that must not key groups).
    // What the planner groups by — a compaction group never crosses
    // partition values, which is also what keeps partition pruning
    // intact after the rewrite; and because the key is the VALUE
    // segments alone, same-value files from different commit dirs (and
    // from a clone's foreign source dirs) merge into one clean local
    // `data/<uuid>/col=value/` group — compaction IS the localization
    // path for a cloned partitioned table
    def partSegs(f: String): String =
      f.split('/').toSeq.dropRight(1).filter { seg =>
        val i = seg.indexOf('=')
        i > 0 && partSet.contains(seg.substring(0, i))
      }.mkString("/")
    import spark.implicits._
    val inv = scoped.map(f =>
        (if (m.partitionColumns.isEmpty) "" else partSegs(f), f,
          Files.size(root.resolve(f))))
      .toDF("part", "path", "bytes")
    // grp is 0-based WITHIN the partition dir — group by (part, grp)
    val groups = Compaction.plan(inv, "part", "path", "bytes", targetBytes)
      .select(functions.col("part"), functions.col("path"),
        functions.col("grp")).collect()
      .groupBy(r => (r.getString(0), r.getLong(2))).toSeq.sortBy(_._1)
      .map { case ((part, _), rs) =>
        (part, rs.map(_.getString(1)).sorted.toSeq) }
    // One distributed read+write per group, coalesced to a single file.
    // NOT a union of coalesce(1) children — the optimizer collapses that
    // into ONE partition for the whole union, undoing the grouping. Each
    // group lands in a scratch dir and its file moves (a rename, not a
    // copy) into the commit dir — under the group's own partition-value
    // dirs on a partitioned table, so read-time value parsing and
    // post-compaction pruning see the same layout as any commit.
    val commitId = java.util.UUID.randomUUID().toString
    val dataRel = s"data/$commitId"
    val dataDir = root.resolve(dataRel)
    Files.createDirectories(dataDir)
    withMicrosTimestamps(spark) {
      runConcurrently(groups.size, maxConcurrentJobs) { i =>
        val (part, fs) = groups(i)
        val tmp = root.resolve(s"$dataRel-g$i")
        spark.read.schema(dataSchema)
          .parquet(fs.map(f => root.resolve(f).toString): _*)
          .coalesce(1).write.parquet(tmp.toString)
        val outDir =
          if (part.isEmpty) dataDir else dataDir.resolve(part)
        Files.createDirectories(outDir)
        listNames(tmp).filter(_.endsWith(".parquet")).foreach(n =>
          Files.move(tmp.resolve(n), outDir.resolve(f"g$i%05d-$n")))
        deleteRecursively(tmp)
      }
    }
    val newFiles = walkParquet(dataDir)
      .map(p => root.relativize(p).toString.replace('\\', '/')).sorted
    val compactStats = statsForFiles(root, newFiles, dataSchema,
      f => partitionValuesFromPath(f, partSet)
        .map { case (c, pv) => c -> TxStats.ColStat(pv, pv) })
    // bloom coverage survives compaction: rebuild over the rewritten
    // files for every column any pre-compaction file bloomed
    val bloomCols = m.blooms.values.flatMap(_.keys).toSet.toSeq.sorted
    val compactBlooms = TxStats.buildFileBlooms(spark, dataDir, newFiles,
      physicalSchema(schema, m.columnMapping), bloomCols)
    // op "compact", not "overwrite": the semantics ARE overwrite (the
    // new version is exactly these files), but downstream consumers —
    // the CDF stream above all — must be able to tell "bytes moved,
    // rows unchanged" from a real rewrite
    val untouchedSet = untouched.toSet
    val keptStats = m.stats.view.filterKeys(untouchedSet).toMap
    val keptBlooms = m.blooms.view.filterKeys(untouchedSet).toMap
    val manifest = Manifest(v + 1, "compact", m.schemaJson,
      untouched ++ newFiles, m.txns, keptStats ++ compactStats,
      keptBlooms ++ compactBlooms, m.partitionColumns,
      m.constraints, Nil, m.properties, m.columnMapping,
      partitionTransforms = m.partitionTransforms)
    // bytes moved, rows unchanged: a lost race rebases onto the new head
    // as long as no winner touched a consumed file ([[rebaseRewrite]]) —
    // so compaction and a streaming append can maintain one table
    // concurrently without either side dying
    publishRebasing(root, manifest, Some(m),
      rebaseRewrite(m, scoped, newFiles, compactStats, compactBlooms,
        "compact", Nil),
      primitive,
      () => try deleteRecursively(dataDir) catch { case _: Exception => () })
  }

  /** `OPTIMIZE ZORDER` as a real REWRITE — [[compact]] moves bytes into
    * fewer files; this moves ROWS into the files where two-dimensional
    * skipping wants them (the Delta `OPTIMIZE ZORDER BY` / Iceberg
    * zorder sort-order semantics, composed from [[Layout.zValue]] and
    * the stats layer this table already certifies):
    *
    *  1. one distributed read of the latest snapshot;
    *  2. the Morton key `z = interleave(xCol, yCol)` as a scan-side
    *     codegen projection (Layout scaladoc — no UDF);
    *  3. `repartitionByRange(numFiles, z)` + `sortWithinPartitions(z)`
    *     — Spark's sampled range exchange IS the z-order clustering
    *     pass, one shuffle of the data, no driver materialization;
    *  4. staged write, fresh footer stats, blooms rebuilt for every
    *     column the snapshot bloomed anywhere, one OCC publish
    *     (op "zorder").
    *
    * Rows never change — only their file assignment — so the committed
    * snapshot is the identical multiset (gate-certified) while every
    * file's min/max extent becomes one Morton TILE of the key plane:
    * bounded in `xCol` AND `yCol` simultaneously, which is exactly what
    * makes manifest min/max pruning fire on filters over EITHER column
    * (suite-asserted: a 2-D box probe keeps strictly fewer candidate
    * files after the rewrite). Time travel keeps the pre-rewrite
    * layout readable; vacuum reclaims it on retention.
    *
    * Caller bounds the keys into [0, 2^bits) (zValue's documented
    * contract — layout keys are range-bucketed first). Cost at 100 TB:
    * read + one range shuffle + write of the live bytes, the same
    * economics as any full compaction; run it on the partition slices
    * a real deployment compacts incrementally. */
  def compactZOrder(spark: SparkSession, tableDir: String,
                    xCol: String, yCol: String, numFiles: Int,
                    bits: Int = 16,
                    primitive: CommitPrimitive = PosixLinkPrimitive): Long =
    compactZOrderBy(spark, tableDir, Seq(xCol, yCol), numFiles, bits,
      primitive)

  /** [[compactZOrder]] at any arity (Delta's `OPTIMIZE ZORDER BY (c1,
    * …, cN)`): the Morton key is [[Layout.zValueN]]'s round-robin
    * interleave, so every file's min/max extent is one tile bounded in
    * ALL N dimensions simultaneously — the manifest stats prune on any
    * of the N predicates. Same rewrite machinery as the 2-column form
    * (which is the bit-identical N=2 special case). */
  def compactZOrderBy(spark: SparkSession, tableDir: String,
                      zCols: Seq[String], numFiles: Int,
                      bits: Int = 16,
                      primitive: CommitPrimitive = PosixLinkPrimitive)
      : Long =
    compactZOrderWhere(spark, tableDir, zCols, Nil, numFiles, bits,
      primitive)

  /** Predicate-scoped ZORDER (the Delta `OPTIMIZE WHERE … ZORDER BY`
    * shape): when `scope` is non-empty, only files the manifest
    * stats/blooms CANNOT prove predicate-free are rewritten into
    * z-order — everything else carries forward VERBATIM with its stats
    * and blooms, exactly [[compact]]'s candidate selection. At 100 TB
    * that is how a `days(ts)` event table gets 2-D clustering inside
    * yesterday's partition without touching a year of history.
    *
    * Works on transform-partitioned tables too: the hidden fields
    * re-derive through [[TxTransforms.deriveColumn]] (the SAME
    * derivation every commit stages with, so the rewritten files land
    * under bit-identical partition paths), the range key is
    * (partition values…, z), and the partitionBy write re-splits mixed
    * range-partitions by value while `sortWithinPartitions` on the
    * same prefix preserves the within-value z order. A transform's
    * SOURCE column is a legal z-order key — it still varies within
    * each derived value (zordering `ts` inside a `days(ts)` layout is
    * the canonical use); IDENTITY partition columns stay refused
    * (their layout is already their directory).
    *
    * Merge-on-read interaction: a scoped rewrite folds tombstones
    * first ([[purgeDeletes]], the [[compact]] recipe — a kept file's
    * sidecar must stay authoritative, so the base is cleaned in its
    * own time-travelable version); the full rewrite reads DV-aware in
    * one pass and publishes clean. */
  def compactZOrderWhere(spark: SparkSession, tableDir: String,
                         zCols: Seq[String],
                         scope: Seq[org.apache.spark.sql.sources.Filter],
                         numFiles: Int, bits: Int = 16,
                         primitive: CommitPrimitive = PosixLinkPrimitive)
      : Long = {
    require(numFiles >= 1, s"numFiles must be >= 1, got $numFiles")
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifest(root, v)
    if (scope.nonEmpty && m.dvDirs.nonEmpty) {
      purgeDeletes(spark, tableDir, primitive): Unit
      return compactZOrderWhere(spark, tableDir, zCols, scope, numFiles,
        bits, primitive)
    }
    val schema = m.schema
    zCols.foreach(c => require(
      schema.fieldNames.contains(c), s"zorder column '$c' is not in " +
        s"the table schema ${schema.simpleString}"))
    val identityParts = TxTransforms.identityNames(m).toSet
    zCols.foreach(c => require(!identityParts.contains(c),
      "zorder columns must be data columns — a partition column's " +
        "layout is already its directory"))
    val zc = "__graft_z"
    require(!schema.fieldNames.contains(zc),
      s"table may not have a '$zc' column")
    val hidden = TxTransforms.spec(m).filterNot(_.isIdentity)
    require(!hidden.exists(_.name == zc),
      s"table may not have a '$zc' partition field")
    // candidate selection: [[partitionFiles]], as in [[compact]] —
    // conservative (file granularity; a kept file may hold no matching
    // row)
    val (scoped, untouched) = partitionFiles(m, scope)
    if (scoped.isEmpty) return v // nothing in scope: version-free no-op
    // on a partitioned table the range key is (partition cols..., z):
    // the clustering happens WITHIN each partition value (the staged
    // partitionBy write then re-splits mixed range-partitions by value,
    // preserving the within-value z order — sortWithinPartitions keys
    // on the same prefix). Hidden fields re-derive from the logical
    // frame exactly as the commit path stages them.
    val rangeKey =
      m.partitionColumns.map(functions.col) :+ functions.col(zc)
    val keepCols =
      (schema.fieldNames.toSeq ++ hidden.map(_.name)).map(functions.col)
    val base = readSnapshotFiles(spark, tableDir, schema,
      TxTransforms.identityNames(m), scoped, m.dvDirs,
      mapping = m.columnMapping)
    val zsorted = hidden.foldLeft(base)((d, f) =>
        d.withColumn(f.name, TxTransforms.deriveColumn(f, schema)))
      .withColumn(zc,
        Layout.zValueN(zCols.map(functions.col), bits))
      .repartitionByRange(numFiles, rangeKey: _*)
      .sortWithinPartitions(rangeKey: _*)
      .select(keepCols: _*)
    val zPhys = toPhysical(zsorted, m.columnMapping)
    val staged =
      if (m.partitionColumns.isEmpty) stageData(zPhys, tableDir)
      // optimizeWrite OFF: the frame is already range-clustered on
      // (partition cols, z) — a hash pre-shuffle would destroy the
      // within-partition z order this rewrite exists to create
      else stageDataPartitioned(zPhys, tableDir, m.partitionColumns,
        optimizeWrite = false)
    val bloomCols = m.blooms.values.flatMap(_.keys).toSet.toSeq.sorted
    val newBlooms = TxStats.buildFileBlooms(spark,
      root.resolve(staged.dataRel), staged.files,
      zPhys.schema, bloomCols)
    // full rewrite through the DV-aware read: tombstoned rows were
    // never read, so the new layout has MATERIALIZED the deletes and
    // carries no deletion vectors (the scoped arm purged first — its
    // kept files are clean too)
    val untouchedSet = untouched.toSet
    val keptStats = m.stats.view.filterKeys(untouchedSet).toMap
    val keptBlooms = m.blooms.view.filterKeys(untouchedSet).toMap
    val manifest = Manifest(v + 1, "zorder", m.schemaJson,
      untouched ++ staged.files, m.txns, keptStats ++ staged.stats,
      keptBlooms ++ newBlooms, m.partitionColumns,
      m.constraints, Nil, m.properties, m.columnMapping,
      partitionTransforms = m.partitionTransforms)
    // same byte-moving reconciliation as [[compact]]: the rewrite
    // consumed every SCOPED file, so a lost race keeps only the
    // winners' new files alongside the z-ordered output
    publishRebasing(root, manifest, Some(m),
      rebaseRewrite(m, scoped, staged.files, staged.stats, newBlooms,
        "zorder", Nil),
      primitive, () => discardStaged(tableDir, Seq(staged)))
  }

  /** One staged (written but unpublished) slice of data — the two-phase
    * half of [[commit]] that atomic CTAS/RTAS needs: files are on disk
    * under their commit-unique dir (invisible — no manifest references
    * them) with stats already computed; [[publishStaged]] makes a
    * version of them, [[discardStaged]] reclaims them. */
  final case class StagedData(dataRel: String, files: Seq[String],
                              stats: Map[String, Map[String, TxStats.ColStat]],
                              schemaJson: String)

  /** Phase 1: write `df`'s files + footer stats, publish NOTHING —
    * including no `_txlog/` skeleton: an aborted CTAS must leave no
    * trace, so log-dir creation belongs to the publish that makes it
    * meaningful. */
  def stageData(df: DataFrame, tableDir: String): StagedData = {
    val root = Paths.get(tableDir)
    val commitId = java.util.UUID.randomUUID().toString
    val dataRel = s"data/$commitId"
    withMicrosTimestamps(df.sparkSession) {
      df.write.parquet(root.resolve(dataRel).toString)
    }
    val files = listNames(root.resolve(dataRel))
      .filter(_.endsWith(".parquet"))
      .map(n => s"$dataRel/$n").sorted
    val stats = statsForFiles(root, files, df.schema)
    StagedData(dataRel, files, stats, df.schema.json)
  }

  /** [[stageData]] for a PARTITIONED commit: hive-layout write
    * (`data/<uuid>/col=value/part-*.parquet`), recursive listing, and
    * per-file stats = footer stats for the data columns PLUS one
    * min=max entry per partition column parsed back from the file's
    * path — which is all partition pruning needs ([[Manifest]]
    * scaladoc). A null partition value (`__HIVE_DEFAULT_PARTITION__`)
    * simply records no stat for that column — an unprunable file, the
    * conservative default everywhere else in the stats layer.
    *
    * OPTIMIZED WRITE (`optimizeWrite`, default on — the Delta
    * optimizedWrite shape): pre-shuffle the frame BY the partition
    * columns (derived transform values included — they are staged as
    * columns by this point) so each value's rows land in ONE task and
    * the hive write emits ONE file per live value. Without it an
    * N-task frame writes up to N×V files — the classic small-file
    * amplification that turns a 1000-executor append to a 365-day
    * layout into 365,000 files per batch; compaction is the repair,
    * not the excuse. Opt out (`tx.optimizeWrite=false`) for producers
    * whose frames are ALREADY clustered by partition value (the
    * pre-shuffle would destroy an intra-file sort) or whose single hot
    * value would bottleneck on one task. */
  private[sources] def stageDataPartitioned(df: DataFrame, tableDir: String,
                                            parts: Seq[String],
                                            optimizeWrite: Boolean = true)
      : StagedData = {
    val root = Paths.get(tableDir)
    val commitId = java.util.UUID.randomUUID().toString
    val dataRel = s"data/$commitId"
    val clustered =
      if (optimizeWrite) df.repartition(parts.map(functions.col): _*)
      else df
    withMicrosTimestamps(df.sparkSession) {
      clustered.write.partitionBy(parts: _*)
        .parquet(root.resolve(dataRel).toString)
    }
    val files = walkParquet(root.resolve(dataRel))
      .map(p => root.relativize(p).toString.replace('\\', '/')).sorted
    val dataSchema = StructType(
      df.schema.fields.filterNot(f => parts.contains(f.name)))
    val stats = statsForFiles(root, files, dataSchema,
      f => partitionValuesFromPath(f, parts.toSet)
        .map { case (c, v) => c -> TxStats.ColStat(v, v) })
    StagedData(dataRel, files, stats, df.schema.json)
  }

  /** A path-parsed partition value as the Catalyst-internal value the
    * reader-wrapper rows carry ([[AppendedColsPartition]]) — shared by
    * the partitioned SQL scan and the CDF stream so the two
    * value-derivation paths cannot diverge. */
  private[sources] def catalystPartitionValue(v: Option[String],
      dt: DataType): Any = v match {
    case None => null
    case Some(s) => dt match {
      case org.apache.spark.sql.types.StringType =>
        org.apache.spark.unsafe.types.UTF8String.fromString(s)
      case org.apache.spark.sql.types.LongType =>
        java.lang.Long.valueOf(s)
      case org.apache.spark.sql.types.IntegerType =>
        java.lang.Integer.valueOf(s)
      case other => throw new IllegalStateException(
        s"unsupported partition type ${other.simpleString}")
    }
  }

  /** Hive `col=value` segments of a file's relative path, unescaped;
    * null markers are omitted (no stat → never pruned). */
  private[sources] def partitionValuesFromPath(relPath: String,
      parts: Set[String]): Map[String, String] =
    relPath.split('/').toSeq.flatMap { seg =>
      seg.indexOf('=') match {
        case i if i > 0 =>
          val (c, v) = (seg.substring(0, i), seg.substring(i + 1))
          if (parts.contains(c) && v != "__HIVE_DEFAULT_PARTITION__")
            Some(c -> org.apache.spark.sql.catalyst.catalog
              .ExternalCatalogUtils.unescapePathName(v))
          else None
        case _ => None
      }
    }.toMap

  private[sources] def walkParquet(dir: Path): Seq[Path] = {
    def walk(p: Path): Seq[Path] =
      if (Files.isDirectory(p)) listNames(p).flatMap(n => walk(p.resolve(n)))
      else if (p.getFileName.toString.endsWith(".parquet")) Seq(p)
      else Seq.empty
    walk(dir)
  }

  /** Phase 2: publish staged slices as one version. `requireVersion`
    * has [[commit]]'s TOCTOU-closing semantics (atomic CREATE lands as
    * v1 or refuses); a REPLACE publishes `latest + 1` as an overwrite.
    * Returns the committed version. */
  /** `reclaimOnConflict = false` keeps the staged files on a version
    * conflict so the caller can retry the publish under different terms
    * (CREATE OR REPLACE losing the v1 race retries as a replace). */
  def publishStaged(tableDir: String, slices: Seq[StagedData],
                    schemaJson: String, op: String,
                    requireVersion: Option[Long] = None,
                    primitive: CommitPrimitive = PosixLinkPrimitive,
                    reclaimOnConflict: Boolean = true): Long = {
    // every slice must carry the declared schema (nullability- and
    // metadata-insensitive): a drifting slice published silently would
    // make the snapshot lie about its own columns
    val declared = asNullable(DataType.fromJson(schemaJson))
    slices.foreach { s =>
      require(asNullable(DataType.fromJson(s.schemaJson)) == declared,
        s"staged slice schema ${s.schemaJson} does not match the " +
          s"declared table schema $schemaJson")
    }
    val root = Paths.get(tableDir)
    Files.createDirectories(root.resolve(LogDir))
    val prev = latestVersion(tableDir).map(v => readManifestLite(root, v))
    val version = prev.map(_.version + 1).getOrElse(1L)
    requireVersion.foreach { rv =>
      if (version != rv) {
        if (reclaimOnConflict) discardStaged(tableDir, slices)
        throw new java.nio.file.FileAlreadyExistsException(
          s"$tableDir: expected to commit v$rv but the table is at " +
            s"v${version - 1}")
      }
    }
    val manifest = Manifest(version, op, schemaJson,
      slices.flatMap(_.files), prev.map(_.txns).getOrElse(Map.empty),
      slices.flatMap(_.stats).toMap)
    try publish(root, manifest, prev, primitive)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        if (reclaimOnConflict) discardStaged(tableDir, slices)
        throw e
    }
    version
  }

  /** Abort path: reclaim staged-but-unpublished files. */
  def discardStaged(tableDir: String, slices: Seq[StagedData]): Unit = {
    val root = Paths.get(tableDir)
    slices.foreach(s =>
      try deleteRecursively(root.resolve(s.dataRel))
      catch { case _: Exception => () })
  }

  // ------------------------------------------- OCC commit reconciliation

  /** Bound on rebase-and-retry rounds after a lost publish race. Ten
    * consecutive losses means the table is under write pressure this
    * writer will not win by spinning — surface the conflict instead. */
  private val MaxRebaseAttempts = 10

  /** The auto-retry loop behind logically-disjoint commit reconciliation
    * (the Delta/Iceberg conflict-resolution shape): publish `first`; on a
    * lost race, re-read the ACTUAL head manifest and ask `rebase` for a
    * new attempt at `head.version + 1` — `Left(why)` is a REAL conflict
    * (surfaced loudly, staged files reclaimed via `onAbort`), `Right` is
    * retried, bounded by [[MaxRebaseAttempts]]. The create-exclusive
    * publish stays the single commit point: a rebase that itself races
    * simply loops with the next head. The head's version number comes
    * from the log file NAME, not the manifest body, so a corrupted log
    * (duplicate content under a new name) cannot pin the loop. */
  private def publishRebasing(root: Path, first: Manifest,
      basePrev: Option[Manifest],
      rebase: Manifest => Either[String, Manifest],
      primitive: CommitPrimitive, onAbort: () => Unit): Long = {
    var attempt = first
    var prev = basePrev
    var tries = 0
    while (tries <= MaxRebaseAttempts) {
      try { publish(root, attempt, prev, primitive); return attempt.version }
      catch {
        case e: java.nio.file.FileAlreadyExistsException =>
          tries += 1
          if (tries > MaxRebaseAttempts) { onAbort(); throw e }
          // lite: rebase recipes decide from file identity + stats;
          // the one recipe that prices bloom bytes (rebaseRowLevel's
          // overlap check) materializes ONLY the winner-added files'
          // sidecars itself
          val headV = versions(root.toString).max
          val head = readManifestLite(root, headV).copy(version = headV)
          rebase(head) match {
            case Right(m) => attempt = m; prev = Some(head)
            case Left(why) =>
              onAbort()
              throw new java.nio.file.FileAlreadyExistsException(
                manifestPath(root, attempt.version).toString, null,
                s"lost the commit race and cannot rebase onto v$headV: " +
                  why)
          }
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Rebase recipe for a BLIND APPEND that lost its publish race. A
    * blind append serializes AFTER any data-only commit — its new files
    * land on whatever head exists, its rows were validated against the
    * same constraints, and it read nothing it could have raced — so the
    * rebase carries the head forward verbatim and adds the staged files.
    * It refuses (real conflict) when any table-level METADATA moved
    * under it: schema (the staged bytes no longer match), partition
    * layout, CHECK constraints (the staged rows were never validated
    * against the new set), or properties. Deletion vectors are head
    * state an append always carries forward, changed or not.
    *
    * It ALSO refuses when the winner already recorded this append's own
    * idempotent-txn watermark (`appId` at a version >= ours): that is
    * the zombie/replay race the streaming sink's `lastTxn` pre-check
    * targets — two writers for the same (appId, batchId) can both pass
    * the pre-check, and blindly merging `head.txns ++ txn` here would
    * commit the batch TWICE, silently duplicating rows. Refusing keeps
    * the watermark read serializable with the commit (Delta's conflict
    * checker does the same for concurrent setTransaction). */
  private def rebaseAppend(schema: StructType, partCols: Seq[String],
      partTransforms: Map[String, String],
      constraints: Map[String, String], properties: Map[String, String],
      mapping: Map[String, String], newFiles: Seq[String],
      newStats: Map[String, Map[String, TxStats.ColStat]],
      newBlooms: Map[String, Map[String, TxStats.FileBloom]],
      txn: Option[(String, Long)], op: String)(head: Manifest)
      : Either[String, Manifest] = {
    val headSchema = head.schema
    if (asNullable(headSchema) != asNullable(schema))
      Left(s"the table schema changed concurrently (head is now " +
        s"${headSchema.simpleString}, this append staged " +
        s"${schema.simpleString})")
    else if (head.partitionColumns != partCols ||
        head.partitionTransforms != partTransforms)
      Left("the partition layout changed concurrently (head is now " +
        s"[${head.partitionColumns.mkString(",")}], this append staged " +
        s"[${partCols.mkString(",")}])")
    else if (head.constraints != constraints)
      Left("CHECK constraints changed concurrently — the staged rows " +
        "were not validated against the new set")
    else if (head.properties != properties)
      Left("table properties changed concurrently")
    else if (head.columnMapping != mapping)
      Left("the column mapping changed concurrently — the staged files " +
        "spell a renamed column by the wrong physical name")
    else if (txn.exists { case (appId, id) =>
        head.txns.get(appId).exists(_ >= id) })
      Left(s"a concurrent commit already recorded transaction " +
        s"${txn.get._1} at version >= ${txn.get._2} — this batch was " +
        "committed by another writer (zombie/replay); replaying it " +
        "here would duplicate its rows")
    else Right(Manifest(head.version + 1, op, head.schemaJson,
      head.files ++ newFiles, head.txns ++ txn, head.stats ++ newStats,
      head.blooms ++ newBlooms, head.partitionColumns, head.constraints,
      head.dvDirs, head.properties, head.columnMapping,
      partitionTransforms = head.partitionTransforms))
  }

  /** Rebase recipe for a BYTE-MOVING rewrite (compact / zorder / purge)
    * that lost its publish race: rows are unchanged by construction, so
    * the rewrite is still valid against any head that (a) still lists
    * every file it consumed — a winner that rewrote or removed one is a
    * real conflict (replaying would resurrect its deleted rows), (b)
    * carries the SAME deletion vectors as the base snapshot — fresh
    * tombstones target files this rewrite re-staged without them, and
    * (c) left schema/partitioning/constraints/properties untouched.
    * The rebase keeps every head file the rewrite did not consume
    * (winner appends included, with their stats and blooms), swaps the
    * consumed set for the rewrite's output, and keeps the head's `txns`
    * so a racing idempotent writer's watermark survives. */
  private def rebaseRewrite(base: Manifest, consumed: Seq[String],
      newFiles: Seq[String],
      newStats: Map[String, Map[String, TxStats.ColStat]],
      newBlooms: Map[String, Map[String, TxStats.FileBloom]],
      op: String, dvDirsOut: Seq[String])(head: Manifest)
      : Either[String, Manifest] = {
    val baseSchema = asNullable(base.schema)
    val headSchema = asNullable(head.schema)
    if (headSchema != baseSchema)
      Left("the table schema changed concurrently")
    else if (head.partitionColumns != base.partitionColumns ||
        head.partitionTransforms != base.partitionTransforms)
      Left("the partition layout changed concurrently")
    else if (head.constraints != base.constraints)
      Left("CHECK constraints changed concurrently")
    else if (head.properties != base.properties)
      Left("table properties changed concurrently")
    else if (head.dvDirs != base.dvDirs)
      Left("deletion vectors changed concurrently — replaying this " +
        s"$op would resurrect freshly deleted rows")
    else if (head.columnMapping != base.columnMapping)
      Left("the column mapping changed concurrently — the rewritten " +
        "files spell a renamed column by the wrong physical name")
    else {
      val headSet = head.files.toSet
      val missing = consumed.filterNot(headSet)
      if (missing.nonEmpty)
        Left(s"a concurrent commit rewrote or removed ${missing.size} " +
          s"of the files this $op consumed (first: ${missing.head})")
      else {
        val consumedSet = consumed.toSet
        val kept = head.files.filterNot(consumedSet)
        val keptSet = kept.toSet
        Right(Manifest(head.version + 1, op, base.schemaJson,
          kept ++ newFiles, head.txns,
          head.stats.view.filterKeys(keptSet).toMap ++ newStats,
          head.blooms.view.filterKeys(keptSet).toMap ++ newBlooms,
          base.partitionColumns, base.constraints, dvDirsOut,
          base.properties, base.columnMapping,
          partitionTransforms = base.partitionTransforms))
      }
    }
  }

  /** Rebase recipe for a ROW-LEVEL rewrite (DELETE / UPDATE / MERGE /
    * replaceWhere) that lost its publish race — the Delta
    * WriteSerializable shape: the op's result depends only on its READ
    * SET (the candidate files its predicate selected), so it can
    * serialize AFTER a winner that provably did not disturb that set.
    * Rebase succeeds iff:
    *  - table metadata (schema / partitioning / constraints /
    *    properties / column mapping) and deletion vectors are
    *    untouched — same guards as the byte-moving recipe;
    *  - every file the op READ is still listed by the head (a winner
    *    that rewrote or removed one invalidates the matched rows);
    *  - every file the winner ADDED is provably row-free under the
    *    op's own predicate (manifest stats + blooms, the same
    *    conservative machinery candidate selection used): an added
    *    file the predicate cannot exclude could hold rows a serial
    *    execution would have matched (or, for MERGE inserts, rows
    *    that would flip a NOT MATCHED decision). An op with NO
    *    translatable predicate (unconditional UPDATE/DELETE, MERGE
    *    with NOT MATCHED BY SOURCE) reads everything, so ANY added
    *    file refuses.
    * The rebased manifest keeps every head file the op did not
    * replace (winner appends included, with their stats and blooms),
    * swaps the replaced set for the op's staged output, and keeps the
    * head's txns. This is what lets two partition-scoped UPDATEs (or
    * a DELETE racing a backfill of a different range) both land —
    * the daily shape on a 100 TB partitioned table. */
  private def rebaseRowLevel(root: Path, base: Manifest,
      replaced: Seq[String], readSet: Seq[String],
      filters: Seq[org.apache.spark.sql.sources.Filter],
      newFiles: Seq[String],
      newStats: Map[String, Map[String, TxStats.ColStat]],
      newBlooms: Map[String, Map[String, TxStats.FileBloom]],
      op: String, dvDirsOut: Seq[String],
      changeDirOut: Option[String] = None)(head0: Manifest)
      : Either[String, Manifest] = {
    // the head arrives LITE; the overlap check below prices bloom bytes
    // for the files the WINNER added — a handful — so only their
    // sidecars materialize, never the table's
    val baseSet0 = base.files.toSet
    val head = materializeBlooms(root, head0,
      head0.files.filterNot(baseSet0).toSet)
    val baseSchema = asNullable(base.schema)
    val headSchema = asNullable(head.schema)
    if (headSchema != baseSchema)
      Left("the table schema changed concurrently")
    else if (head.partitionColumns != base.partitionColumns ||
        head.partitionTransforms != base.partitionTransforms)
      Left("the partition layout changed concurrently")
    else if (head.constraints != base.constraints)
      Left("CHECK constraints changed concurrently")
    else if (head.properties != base.properties)
      Left("table properties changed concurrently")
    else if (head.dvDirs != base.dvDirs)
      Left("deletion vectors changed concurrently — the rewrite's " +
        "survivors were materialized under the old tombstone set")
    else if (head.columnMapping != base.columnMapping)
      Left("the column mapping changed concurrently")
    else {
      val headSet = head.files.toSet
      val missing = readSet.filterNot(headSet)
      if (missing.nonEmpty)
        Left(s"a concurrent commit rewrote or removed ${missing.size} " +
          s"of the files this $op read (first: ${missing.head}) — the " +
          "matched rows may no longer exist")
      else {
        val baseSet = base.files.toSet
        val appeared = head.files.filterNot(baseSet)
        if (filters.isEmpty && appeared.nonEmpty)
          Left(s"this $op has no prunable predicate (its read set is " +
            "the whole table) and a concurrent commit added " +
            s"${appeared.size} file(s) — serializing after it would " +
            "change the result")
        else {
          val schema = TxTransforms.skipSchema(base.schema, base)
          val skipFs = TxTransforms.withProjections(filters, base)
          val (lst, lbl) = (logicalStats(head), logicalBlooms(head))
          val overlapping = appeared.filter(f => TxStats.mayMatch(
            lst.getOrElse(f, Map.empty), lbl.getOrElse(f, Map.empty),
            schema, skipFs))
          if (overlapping.nonEmpty)
            Left(s"a concurrent commit added ${overlapping.size} " +
              s"file(s) this $op's predicate cannot prove row-free " +
              s"(first: ${overlapping.head}) — serializing after it " +
              "would change the result")
          else {
            val replacedSet = replaced.toSet
            val kept = head.files.filterNot(replacedSet)
            val keptSet = kept.toSet
            Right(Manifest(head.version + 1, op, base.schemaJson,
              kept ++ newFiles, head.txns,
              head.stats.view.filterKeys(keptSet).toMap ++ newStats,
              head.blooms.view.filterKeys(keptSet).toMap ++ newBlooms,
              base.partitionColumns, base.constraints, dvDirsOut,
              base.properties, base.columnMapping,
              changeDir = changeDirOut,
              partitionTransforms = base.partitionTransforms))
          }
        }
      }
    }
  }

  /** Row-level DELETE as a copy-on-write commit — the engine behind SQL
    * `DELETE FROM` on the tx catalog. The skipping layer answers exactly
    * the question a delete asks ("which files can hold a matching
    * row?"), so only files whose manifest stats/blooms CANNOT prove the
    * predicate misses them are rewritten (surviving rows re-staged as
    * new files); every provably-untouched file carries forward verbatim
    * with its stats and blooms — zero reads, zero writes for it. The
    * rewrite publishes through the same OCC commit as every writer, so
    * the delete is time-travelable (the pre-delete snapshot stays
    * readable) and RESTORE-able.
    *
    * Semantics: a row is deleted when the conjunction of `filters` is
    * TRUE on it; NULL and FALSE both keep the row (ANSI DELETE). An
    * empty filter list is SQL's unconditioned DELETE/TRUNCATE — the new
    * version is an empty snapshot. A delete whose predicate provably
    * touches NO file is a pure no-op: no rewrite, no commit, the current
    * version is returned unchanged (suite-pinned).
    *
    * Cost shape at 100 TB: O(files) driver metadata for the skip
    * decision, one distributed read+filter+write over ONLY the touched
    * files, one manifest publish. Returns the committed (or unchanged)
    * version. */
  def deleteWhere(spark: SparkSession, tableDir: String,
                  filters: Seq[org.apache.spark.sql.sources.Filter],
                  primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifest(root, v)
    // table-level opt-in to merge-on-read: the 100 TB DELETE shape
    if (m.properties.get(DvProperty).contains("true"))
      return deleteWhereMor(spark, tableDir, filters, primitive)
    val schema = m.schema
    val cond: org.apache.spark.sql.Column = filters
      .map(f => SourceFilterColumns.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE condition not expressible as a source filter: $f")))
      .reduceOption(_ && _).getOrElse(functions.lit(true))
    // a file is untouched when ANY conjunct provably excludes all its
    // rows (the scan's skip rule applied to the DELETE predicate)
    val (touched, untouched) = partitionFiles(m, filters)
    if (touched.isEmpty) return v // provably nothing to delete
    // keep = NOT true(cond): NULL-condition rows survive, like ANSI.
    // The shared snapshot reader attaches partition values on a
    // partitioned table, so the condition sees every column — and
    // applies any existing tombstones, so a copy-on-write rewrite of
    // an already-DV-bearing file cannot resurrect its deleted rows.
    val survivors =
      readSnapshotFiles(spark, tableDir, schema,
        TxTransforms.identityNames(m),
        touched, m.dvDirs, mapping = m.columnMapping)
      .filter(!functions.coalesce(cond, functions.lit(false)))
    // CDF change frame (staged only on tx.changeDataFeed tables): the
    // deleted rows are exactly the candidates the predicate matches
    val deleted = readSnapshotFiles(spark, tableDir, schema,
        TxTransforms.identityNames(m), touched, m.dvDirs,
        mapping = m.columnMapping)
      .filter(functions.coalesce(cond, functions.lit(false)))
      .withColumn(TxChanges.ChangeTypeCol, functions.lit("delete"))
    replaceFiles(spark, tableDir, m, untouched, survivors, "delete",
      primitive, rowLevelRebase = Some((filters, touched)),
      changeData = Some(deleted))
  }

  /** Predicate-scoped overwrite (Delta's `replaceWhere`, and the V1
    * execution of `INSERT OVERWRITE … PARTITION (p = v)` static specs
    * and `writeTo(t).overwrite(cond)`): ONE atomic commit that deletes
    * every row matching `filters` and adds `data` — "backfill this
    * date range" without touching any other range. Cost shape is
    * [[deleteWhere]]'s: candidate files prune through stats/blooms
    * (provably-untouched files carry forward VERBATIM with stats,
    * blooms, and tombstones), the rewrite reads only candidates, and
    * the whole thing is one OCC publish — loud on a lost race.
    *
    * The Delta contract check: every incoming row must SATISFY the
    * predicate — rows outside it would silently survive the very next
    * replaceWhere of their own range twice (the caller said "this
    * commit is scoped to `filters`"; data beyond the scope is a bug),
    * so they refuse loudly before anything stages. */
  def replaceWhere(spark: SparkSession, tableDir: String,
                   filters: Seq[org.apache.spark.sql.sources.Filter],
                   data: DataFrame,
                   primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    require(filters.nonEmpty, "replaceWhere needs a predicate — use " +
      "mode=overwrite to replace the whole table")
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifest(root, v)
    val schema = m.schema
    val ordered = data.select(schema.fieldNames.toSeq
      .map(functions.col): _*)
    require(asNullable(schema) == asNullable(ordered.schema),
      s"replaceWhere schema ${ordered.schema.simpleString} does not " +
        s"match table schema ${schema.simpleString}")
    val cond: org.apache.spark.sql.Column = filters
      .map(f => SourceFilterColumns.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"replaceWhere condition not expressible as a source " +
            s"filter: $f")))
      .reduce(_ && _)
    val stray = ordered
      .filter(!functions.coalesce(cond, functions.lit(false)))
      .limit(1).collect()
    if (stray.nonEmpty) throw new IllegalArgumentException(
      s"replaceWhere data contains rows OUTSIDE the predicate " +
        s"(${filters.mkString(" AND ")}) — first: ${stray.head}; " +
        "scope the data or widen the predicate")
    val (touched, untouched) = partitionFiles(m, filters)
    // survivors of candidate files (rows the predicate does NOT match —
    // NULL-condition rows survive, like ANSI DELETE) plus the new data,
    // staged as one rewrite
    val survivors =
      if (touched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readSnapshotFiles(spark, tableDir, schema,
          TxTransforms.identityNames(m),
          touched, m.dvDirs, mapping = m.columnMapping)
        .filter(!functions.coalesce(cond, functions.lit(false)))
    // CDF change frame: rows the predicate removes, plus the new data
    val cdfDeleted =
      (if (touched.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else readSnapshotFiles(spark, tableDir, schema,
          TxTransforms.identityNames(m),
          touched, m.dvDirs, mapping = m.columnMapping)
        .filter(functions.coalesce(cond, functions.lit(false))))
      .withColumn(TxChanges.ChangeTypeCol, functions.lit("delete"))
    val cdfInserted = ordered
      .withColumn(TxChanges.ChangeTypeCol, functions.lit("insert"))
    replaceFiles(spark, tableDir, m, untouched,
      survivors.unionByName(ordered), "replacewhere", primitive,
      rowLevelRebase = Some((filters, touched)),
      changeData = Some(cdfDeleted.unionByName(cdfInserted)))
  }

  /** The table property that routes DELETE through deletion vectors. */
  val DvProperty = "tx.deletionVectors"

  /** How many versions between full-state checkpoints ([[publish]]
    * scaladoc); the default balances commit cost (a checkpoint is
    * O(live files)) against snapshot-load tail length (≤ interval
    * deltas replay). */
  val CheckpointIntervalProperty = "tx.checkpointInterval"
  val DefaultCheckpointInterval = 20

  /** Opt-in to CHANGE-DATA-FEED files: with `tx.changeDataFeed=true`,
    * every row-level rewrite (DELETE / UPDATE / MERGE / replaceWhere,
    * CoW and MoR alike) persists its change rows as parquet under
    * `data/cdf-<uuid>` and records the dir in its commit — one extra
    * bounded write ∝ changed rows, which is what lets the STREAMING
    * CDF serve rewriting commits as cdc rows instead of refusing
    * (the Delta enableChangeDataFeed contract: only commits made with
    * the property on carry change files). */
  val CdfProperty = "tx.changeDataFeed"

  /** Pre-shuffle partitioned staging by the partition columns —
    * [[stageDataPartitioned]] scaladoc. Default ON; set false for
    * producers whose frames are already value-clustered. */
  val OptimizeWriteProperty = "tx.optimizeWrite"

  private[sources] def optimizeWriteOn(props: Map[String, String]): Boolean =
    !props.get(OptimizeWriteProperty).contains("false")

  /** `tx.*` table properties are a closed set — an unrecognized key is
    * a typo'd promise nothing will honor, which is worse than an
    * error. */
  private[sources] def validateProperties(props: Map[String, String]): Unit =
    props.foreach {
      case (DvProperty, v) => require(v == "true" || v == "false",
        s"$DvProperty must be true|false, got '$v'")
      case (CheckpointIntervalProperty, v) =>
        require(v.toIntOption.exists(_ >= 1),
          s"$CheckpointIntervalProperty must be a positive int, got '$v'")
      case (CdfProperty, v) => require(v == "true" || v == "false",
        s"$CdfProperty must be true|false, got '$v'")
      case (OptimizeWriteProperty, v) => require(v == "true" || v == "false",
        s"$OptimizeWriteProperty must be true|false, got '$v'")
      case (k, _) => throw new IllegalArgumentException(
        s"unknown table property '$k' — supported: $DvProperty, " +
          s"$CheckpointIntervalProperty, $CdfProperty, " +
          OptimizeWriteProperty)
    }

  /** Merge-on-read DELETE: instead of rewriting every file that holds
    * a matching row (copy-on-write — at 100 TB that is terabytes of
    * IO to remove a handful of rows), write the matches' (file, pos)
    * identities as a tombstone sidecar and publish a version whose
    * DATA FILES ARE UNCHANGED. Cost ∝ deleted rows, not touched-file
    * bytes; every reader applies the tombstones through the shared
    * snapshot reader's anti-join. Candidate files still prune through
    * stats/blooms (the matching scan reads only files that can hold a
    * match), already-tombstoned rows cannot re-match (the candidate
    * read is itself DV-aware), and a delete that matches nothing
    * commits NO version and leaves no sidecar. [[purgeDeletes]] is
    * the hygiene pass that folds tombstones back into clean files. */
  def deleteWhereMor(spark: SparkSession, tableDir: String,
                     filters: Seq[org.apache.spark.sql.sources.Filter],
                     primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifest(root, v)
    val schema = m.schema
    val cond: org.apache.spark.sql.Column = filters
      .map(f => SourceFilterColumns.toColumn(f).getOrElse(
        throw new UnsupportedOperationException(
          s"DELETE condition not expressible as a source filter: $f")))
      .reduceOption(_ && _).getOrElse(functions.lit(true))
    val candidates = partitionFiles(m, filters)._1
    if (candidates.isEmpty) return v
    val matched =
      readSnapshotFiles(spark, tableDir, schema,
        TxTransforms.identityNames(m),
        candidates, m.dvDirs, dvMeta = true, mapping = m.columnMapping)
      .filter(functions.coalesce(cond, functions.lit(false)))
    val dvRel = writeDvSidecar(spark, root, matched, "DELETE") match {
      case None => return v // matched nothing: version-free no-op
      case Some(rel) => rel
    }
    // CDF change frame: the tombstoned rows, verbatim
    val changeDirOut =
      if (!m.properties.get(CdfProperty).contains("true")) None
      else Some(stageChangeData(tableDir,
        matched.select(schema.fieldNames.toSeq.map(functions.col): _*)
          .withColumn(TxChanges.ChangeTypeCol, functions.lit("delete")),
        schema, m.columnMapping))
    val manifest = Manifest(v + 1, "delete", m.schemaJson, m.files,
      m.txns, m.stats, m.blooms, m.partitionColumns, m.constraints,
      m.dvDirs :+ dvRel, m.properties, m.columnMapping,
      changeDir = changeDirOut,
      partitionTransforms = m.partitionTransforms)
    try publish(root, manifest, Some(m), primitive)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        try deleteRecursively(root.resolve(dvRel))
        catch { case _: Exception => () }
        changeDirOut.foreach(d =>
          try deleteRecursively(root.resolve(d))
          catch { case _: Exception => () })
        throw e
    }
    v + 1
  }

  /** Write `matched` rows' DV identities ([[DvFileCol]]/[[DvPosCol]],
    * present when the frame came from `readSnapshotFiles(dvMeta=true)`)
    * as a fresh tombstone sidecar. Returns its table-relative dir, or
    * None (sidecar removed) when nothing matched — the caller's
    * version-free no-op. A null file identity means the derivation
    * failed; publishing it would silently KEEP those rows, so the
    * sidecar is WITHDRAWN loudly instead. The check is one
    * metadata-sized aggregate over the sidecar just written. */
  private[graft] def writeDvSidecar(spark: SparkSession, root: Path,
      matched: DataFrame, op: String): Option[String] = {
    val dvRel = s"data/dv-${java.util.UUID.randomUUID()}"
    matched
      .select(functions.col(DvFileCol).as("file"),
        functions.col(DvPosCol).as("pos"))
      .write.parquet(root.resolve(dvRel).toString)
    val chk = readDvFrame(spark, root, Seq(dvRel))
      .agg(functions.count(functions.lit(1)),
        functions.count_if(functions.col("file").isNull)).head()
    val (n, nNull) = (chk.getLong(0), chk.getLong(1))
    if (nNull > 0) {
      deleteRecursively(root.resolve(dvRel))
      throw new IllegalStateException(
        s"MoR $op on $root: $nNull matched row(s) produced a null " +
          "file identity — sidecar withdrawn, nothing committed")
    }
    if (n == 0) { deleteRecursively(root.resolve(dvRel)); None }
    else Some(dvRel)
  }

  /** Fold the tombstones back into clean files: rewrite ONLY the
    * manifest entries that actually hold a tombstoned row (everything
    * else carries forward verbatim) and publish with an EMPTY dvDirs —
    * after a purge, reads pay no anti-join and sidecars are
    * vacuum-reclaimable. The affected-entry set comes from one
    * distinct-files pass over the sidecars (O(live files) driver rows,
    * the same envelope as the manifest itself). */
  def purgeDeletes(spark: SparkSession, tableDir: String,
                   primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifest(root, v)
    if (m.dvDirs.isEmpty) return v
    val schema = m.schema
    val dvFiles = readDvFrame(spark, root, m.dvDirs)
      .select("file").distinct().collect().map(_.getString(0)).toSet
    val (touched, untouched) = m.files.partition(e =>
      dvFiles.contains(e) || dvFiles.exists(_.startsWith(e + "/")))
    val survivors = readSnapshotFiles(spark, tableDir, schema,
      TxTransforms.identityNames(m), touched, m.dvDirs,
      mapping = m.columnMapping)
    replaceFiles(spark, tableDir, m, untouched, survivors, "purge",
      primitive, dvDirs = Some(Nil), rebaseConsumed = Some(touched))
  }

  /** Shared copy-on-write tail for every row-level rewrite (DELETE /
    * UPDATE / MERGE): stage `newData` as fresh files, carry the
    * `untouched` files forward VERBATIM with their stats and blooms,
    * rebuild blooms on the staged files for every column the snapshot
    * bloomed anywhere (coverage never narrows through a rewrite), and
    * publish `base.version + 1` as `op` through the same OCC commit as
    * every writer — staged files reclaimed on a version conflict, so a
    * lost race leaves no orphans and the pre-rewrite snapshot stays
    * time-travelable either way. */
  /** `dvDirs`: None carries the base snapshot's deletion vectors
    * forward (correct for partial rewrites — untouched files still
    * need their tombstones, and entries for rewritten files are
    * stale-but-harmless because their physical paths left the
    * snapshot); Some(Nil) clears them (a rewrite that touched every
    * tombstoned file, e.g. [[purgeDeletes]]). */
  /** `rebaseConsumed = Some(files)` opts the publish into byte-moving
    * OCC reconciliation ([[rebaseRewrite]]) — ONLY for rewrites whose
    * rows are provably unchanged (purge).
    *
    * `rowLevelRebase = Some((filters, readSet))` opts it into
    * ROW-LEVEL reconciliation ([[rebaseRowLevel]]): `filters` is the
    * op's own candidate predicate (the conjuncts its file pruning
    * used — empty means unprunable, refuse on any concurrent add) and
    * `readSet` the files it actually read. Partition-disjoint
    * row-level ops racing is the daily 100 TB shape; same-file races
    * still refuse loudly. Leaving BOTH None keeps any lost race a
    * loud refusal. */
  /** `changeData`: the op's row-level change frame (table columns plus
    * [[TxChanges.ChangeTypeCol]]) — staged as this commit's change-data
    * files when the table opted into [[CdfProperty]], ignored (never
    * even planned) otherwise. Written before the publish, reclaimed
    * with the staged data on any abort. */
  private[graft] def replaceFiles(spark: SparkSession, tableDir: String,
                                  base: Manifest, untouched: Seq[String],
                                  newData: DataFrame, op: String,
                                  primitive: CommitPrimitive =
                                    PosixLinkPrimitive,
                                  dvDirs: Option[Seq[String]] = None,
                                  rebaseConsumed: Option[Seq[String]] =
                                    None,
                                  rowLevelRebase: Option[(
                                    Seq[org.apache.spark.sql.sources.Filter],
                                    Seq[String])] = None,
                                  changeData: Option[DataFrame] = None)
      : Long = {
    val dvDirsOut = dvDirs.getOrElse(base.dvDirs)
    val root = Paths.get(tableDir)
    val schema = base.schema
    val changeDirOut: Option[String] =
      if (!base.properties.get(CdfProperty).contains("true")) None
      else changeData.map(cd =>
        stageChangeData(tableDir, cd, schema, base.columnMapping))
    def reclaimChanges(): Unit = changeDirOut.foreach(d =>
      try deleteRecursively(root.resolve(d))
      catch { case _: Exception => () })
    // a rewrite can INTRODUCE violations (UPDATE SET n = -1): the
    // table's CHECK constraints gate the rewritten rows like any commit
    enforceConstraints(newData, base.constraints,
      s"the $op rewrite of $tableDir")
    // a partitioned table's rewritten rows re-stage through the hive
    // layout so their partition values stay in paths + stats; hidden
    // fields RE-DERIVE from their source columns (the rewrite frame
    // carries only schema columns), and staging renames logical →
    // physical so every file of the table agrees on byte-level names
    val baseSpec = TxTransforms.spec(base)
    val reDerived = baseSpec.filterNot(_.isIdentity).foldLeft(newData)(
      (d, f) => d.withColumn(f.name, TxTransforms.deriveColumn(f, schema)))
    val physData = toPhysical(reDerived, base.columnMapping)
    val staged =
      if (base.partitionColumns.isEmpty) stageData(physData, tableDir)
      else stageDataPartitioned(physData, tableDir, base.partitionColumns,
        optimizeWrite = optimizeWriteOn(base.properties))
    val untouchedSet = untouched.toSet
    val keptStats = base.stats.view.filterKeys(untouchedSet).toMap
    val keptBlooms = base.blooms.view.filterKeys(untouchedSet).toMap
    val bloomCols = base.blooms.values.flatMap(_.keys)
      .toSeq.distinct.sorted
    val newBlooms = TxStats.buildFileBlooms(spark,
      root.resolve(staged.dataRel), staged.files,
      physicalSchema(schema, base.columnMapping), bloomCols)
    val manifest = Manifest(base.version + 1, op, base.schemaJson,
      untouched ++ staged.files, base.txns,
      keptStats ++ staged.stats, keptBlooms ++ newBlooms,
      base.partitionColumns, base.constraints, dvDirsOut,
      base.properties, base.columnMapping,
      changeDir = changeDirOut,
      partitionTransforms = base.partitionTransforms)
    def abort(): Unit = {
      discardStaged(tableDir, Seq(staged))
      reclaimChanges()
    }
    (rebaseConsumed, rowLevelRebase) match {
      case (Some(consumed), _) =>
        publishRebasing(root, manifest, Some(base),
          rebaseRewrite(base, consumed, staged.files, staged.stats,
            newBlooms, op, dvDirsOut),
          primitive, () => abort())
      case (None, Some((filters, readSet))) =>
        // replaced = the base files this commit did NOT carry forward
        // (empty for merge-on-read arms, whose data files all stay)
        val replaced = base.files.filterNot(untouchedSet)
        publishRebasing(root, manifest, Some(base),
          rebaseRowLevel(root, base, replaced, readSet, filters,
            staged.files, staged.stats, newBlooms, op, dvDirsOut,
            changeDirOut),
          primitive, () => abort())
      case _ =>
        try publish(root, manifest, Some(base), primitive)
        catch {
          case e: java.nio.file.FileAlreadyExistsException =>
            abort()
            throw e
        }
        base.version + 1
    }
  }

  /** Stage a change frame as this commit's `data/cdf-<uuid>` parquet:
    * table columns in schema order under their PHYSICAL names (like
    * every data file — the stream reads both through one schema) plus
    * [[TxChanges.ChangeTypeCol]] — written FLAT even on partitioned
    * tables (change rows carry their partition values as ordinary
    * columns; the feed never prunes change files by partition). */
  private def stageChangeData(tableDir: String, changeData: DataFrame,
      schema: StructType, mapping: Map[String, String]): String = {
    val root = Paths.get(tableDir)
    val rel = s"data/cdf-${java.util.UUID.randomUUID()}"
    val cols = schema.fieldNames.toSeq.map(n =>
        functions.col(n).as(physicalName(mapping, n))) :+
      functions.col(TxChanges.ChangeTypeCol)
    changeData.select(cols: _*).write.parquet(root.resolve(rel).toString)
    rel
  }

  /** RESTORE — roll the table back to version `v` by committing v's
    * snapshot as the NEW head (the Delta RESTORE shape: history is
    * append-only, a rollback is one more version, nothing is deleted).
    * Pure metadata: the new manifest re-lists v's files (with their
    * stats and blooms) — zero data movement, O(1) manifest IO — and
    * races like any commit (loud version conflict). Requires v to still
    * be retained: vacuum deletes manifests BEFORE files, so a readable
    * manifest implies its files exist AT READ TIME, and once restored
    * those files are live in the head and protected from future
    * vacuums; a vacuum running CONCURRENTLY with the restore is the one
    * window ordering cannot close (maintenance ops are single-writer by
    * operational contract), so a post-publish existence tripwire
    * WITHDRAWS a torn restore loudly instead of leaving a head that
    * references deleted files. The
    * carried-forward `txns` watermarks come from the CURRENT head (an
    * idempotent writer's progress is not part of the data being rolled
    * back). */
  def restore(tableDir: String, v: Long,
              primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    val root = Paths.get(tableDir)
    val mLite = readManifestLite(root, v) // loud when v is gone
    val latest = versions(tableDir).max // non-empty: v's manifest exists
    val head = readManifestLite(root, latest)
    // blooms materialized ONLY for restored files the head no longer
    // references — publish re-sidecars exactly those; every file the
    // head still refs carries by reference with zero sidecar reads
    // (the bloom-blind discipline applied to restore: a rollback where
    // the head kept all of v's files is a pure metadata commit)
    val m = materializeBlooms(root, mLite,
      mLite.files.toSet -- head.bloomRefs.keySet)
    val manifest = Manifest(latest + 1, "restore", m.schemaJson, m.files,
      head.txns, m.stats, m.blooms, m.partitionColumns, m.constraints,
      m.dvDirs, m.properties, m.columnMapping,
      partitionTransforms = m.partitionTransforms)
    publish(root, manifest, Some(head), primitive)
    // Tripwire for the one race the ordering argument cannot close: a
    // vacuum running CONCURRENTLY may have snapshotted its live set
    // before this publish and deleted v's files after we read v's
    // manifest — the published head would reference missing files
    // persistently. Maintenance ops are documented single-writer
    // (standard lakehouse operational rule), but verify anyway: on a
    // torn restore, withdraw the manifest we just published (removing
    // the newest manifest restores the previous head) and fail loudly.
    val missing = (m.files ++ m.dvDirs)
      .filterNot(f => Files.exists(root.resolve(f)))
    if (missing.nonEmpty) {
      Files.deleteIfExists(manifestPath(root, latest + 1)): Unit
      Files.deleteIfExists(ckptPath(root, latest + 1)): Unit
      Files.deleteIfExists(ckptParquetPath(root, latest + 1)): Unit
      throw new IllegalStateException(
        s"restore($tableDir, v$v) raced a concurrent vacuum: " +
          s"${missing.size} restored file(s) no longer exist " +
          s"(first: ${missing.head}); the restore was withdrawn — " +
          "do not run vacuum and restore concurrently")
    }
    latest + 1
  }

  // ------------------------------------------ snapshot tags (named refs)

  private val RefsDirRel = s"$LogDir/refs"
  private def refPath(root: Path, name: String): Path =
    root.resolve(RefsDirRel).resolve(s"$name.json")

  /** TAG — an immutable named reference to a committed version (the
    * Iceberg tag shape): `tag(t, "release-1", v)` pins v under a name
    * that SQL time travel resolves (`VERSION AS OF 'release-1'`) and
    * that VACUUM honors — retention expiry never crosses the lowest
    * tagged version, so a tagged snapshot (and every version above it,
    * by the prefix-contiguity rule) stays readable until the tag is
    * dropped. Tags are immutable by create-exclusive write: re-pointing
    * is an explicit [[dropTag]] + [[tag]], never a silent overwrite.
    * Zero data movement — a tag is one tiny ref file. */
  /** The ONE tag-name rule, enforced on every surface that touches a
    * ref path — a raw name reaching [[refPath]] would be a path
    * traversal ('../v00001' deletes a manifest), and an all-digit name
    * would be unreachable by `VERSION AS OF` (integers dispatch to
    * version numbers first) or, worse, silently shadowed by a real
    * version. */
  private def validateTagName(name: String): Unit = {
    require(name.nonEmpty && name.forall(c =>
        c.isLetterOrDigit || c == '-' || c == '_' || c == '.') &&
        name != "." && name != "..",
      s"illegal tag name '$name' — letters, digits, '-', '_', '.' only")
    require(!name.forall(_.isDigit),
      s"illegal tag name '$name' — an all-digit name can never resolve " +
        "as a tag (VERSION AS OF dispatches integers to version numbers)")
  }

  def tag(tableDir: String, name: String, version: Long): Unit = {
    validateTagName(name)
    require(versionExists(tableDir, version),
      s"cannot tag version $version of $tableDir: it does not exist " +
        s"(or was vacuumed); committed: " +
        s"${versions(tableDir).mkString(", ")}")
    val root = Paths.get(tableDir)
    Files.createDirectories(root.resolve(RefsDirRel))
    val tmp = root.resolve(RefsDirRel)
      .resolve(s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, s"""{"version": $version}"""
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    try Files.createLink(refPath(root, name), tmp)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"tag '$name' already exists on $tableDir (at version " +
            s"${tags(tableDir).getOrElse(name, -1L)}) — tags are " +
            "immutable; dropTag first to re-point it")
    } finally Files.deleteIfExists(tmp): Unit
  }

  /** Remove a tag — its version becomes expirable by the next vacuum
    * like any other (subject to the count/age retention floors). */
  def dropTag(tableDir: String, name: String): Unit = {
    validateTagName(name)
    val p = refPath(Paths.get(tableDir), name)
    require(Files.isRegularFile(p),
      s"no tag '$name' on $tableDir (have: " +
        s"${tags(tableDir).keys.toSeq.sorted.mkString(", ")})")
    Files.delete(p)
  }

  /** All tags of the table: name → pinned version. O(tags) metadata.
    * A ref that vanishes between the listing and its read was dropped
    * CONCURRENTLY — the same normal-reader-races-retention scenario
    * `TIMESTAMP AS OF` resolves by skipping; the tag simply no longer
    * belongs in the answer. */
  def tags(tableDir: String): Map[String, Long] = {
    val refs = Paths.get(tableDir).resolve(RefsDirRel)
    if (!Files.isDirectory(refs)) Map.empty
    else listNames(refs).filter(_.endsWith(".json")).flatMap { n =>
      try {
        val node = new Mapper().readTree(Files.readAllBytes(refs.resolve(n)))
        val v = node.get("version")
        if (v == null || !v.canConvertToLong)
          throw new IllegalStateException(
            s"corrupt tag ref ${refs.resolve(n)}: no integral 'version' " +
              "field — delete or repair the ref file")
        Some(n.stripSuffix(".json") -> v.asLong())
      } catch {
        case _: java.nio.file.NoSuchFileException => None
        // a malformed/foreign ref file must not silently vanish from the
        // tag listing (time-travel would see a different tag set than the
        // operator does) — name the file so the repair is obvious. Only
        // the concurrent-drop race stays silent (normal reader-vs-drop).
        case e: com.fasterxml.jackson.core.JacksonException =>
          throw new IllegalStateException(
            s"corrupt tag ref ${refs.resolve(n)}: unparseable JSON — " +
              s"delete or repair the ref file ($e)")
      }
    }.toMap
  }

  /** ZERO-COPY SHALLOW CLONE (the Delta `CREATE TABLE … SHALLOW CLONE`
    * / Iceberg-snapshot shape): commit `dstDir`'s v1 as a manifest that
    * REFERENCES the source snapshot's data files by absolute path —
    * nothing is copied, the clone is one metadata commit regardless of
    * table size. Stats carry (every skipping decision works on day
    * one); schema, constraints, layout (identity + hidden transforms),
    * and column mapping carry; history, txn watermarks, and CDF change
    * files do not (the clone's history starts at its own v1).
    *
    * The dev/test-on-prod workflow: clone, then evolve the clone freely
    * — new commits stage files under the CLONE's root, rewrites
    * (compact/zorder/update) progressively localize the referenced
    * bytes, and the source never observes any of it.
    *
    * Contracts, loudly:
    *   - THE VACUUM HAZARD (exactly Delta's shallow-clone contract): the
    *     source table does not know its files are referenced elsewhere.
    *     A source-side VACUUM that expires the cloned version deletes
    *     bytes the clone still references, breaking its reads from that
    *     moment on. Either retain the cloned version on the source, or
    *     rewrite the clone (compact) to localize it before vacuuming
    *     the source. The clone's OWN vacuum only ever walks its own
    *     `data/` dir — it can never delete source bytes.
    *   - deletion vectors do not cross roots: a DV row's identity is
    *     (root-RELATIVE path, row index), underivable for foreign
    *     absolute files — a DV-bearing snapshot refuses (purge first),
    *     and `tx.deletionVectors` is stripped so the clone's own
    *     deletes take the copy-on-write path until a rewrite localizes
    *     the files.
    *   - blooms do not carry: the incremental delta format records one
    *     sidecar per commit, not arbitrary per-file references into a
    *     foreign log. Bloom skipping is an optimization with no
    *     correctness footprint — rebuild via compact/zorder (both
    *     re-bloom every column the snapshot bloomed) when needed. */
  def cloneSnapshot(srcDir: String, dstDir: String,
                    version: Option[Long] = None,
                    primitive: CommitPrimitive = PosixLinkPrimitive)
      : Long = {
    val srcRoot = Paths.get(srcDir).toAbsolutePath
    val v = version.getOrElse(headVersion(srcDir))
    val m = readManifestLite(srcRoot, v)
    require(m.dvDirs.isEmpty,
      s"cannot clone v$v of $srcDir: the snapshot carries deletion " +
        "vectors, whose row identity is root-relative and cannot cross " +
        "roots — run purge_deletes on the source (or clone a pre-DV " +
        "version) first")
    require(latestVersion(dstDir).isEmpty,
      s"clone target $dstDir already has a committed version")
    def abs(rel: String): String = srcRoot.resolve(rel).toString
    val files = m.files.map(abs)
    val stats = m.stats.map { case (f, cs) => abs(f) -> cs }
    val manifest = Manifest(1L, "clone", m.schemaJson, files,
      txns = Map.empty, stats, blooms = Map.empty, m.partitionColumns,
      m.constraints, dvDirs = Nil, m.properties - DvProperty,
      m.columnMapping, partitionTransforms = m.partitionTransforms)
    val dstRoot = Paths.get(dstDir)
    Files.createDirectories(dstRoot.resolve(LogDir))
    publish(dstRoot, manifest, None, primitive)
    1L
  }

  /** Time travel: read exactly version `v`'s snapshot.
    *
    * A partitioned snapshot does NOT use hive path discovery — a
    * snapshot's files span many commit dirs (`data/<uuid>/col=v/...`),
    * which discovery rejects as conflicting roots. Instead the manifest
    * is the source of partition values (the Delta/Iceberg model): files
    * group by their value tuple — the group count is the snapshot's
    * live partition cardinality, the natural scale of hive layouts, NOT
    * the file count — and each group reads as plain parquet over the
    * data columns with its constant values attached as typed literals.
    * Partition predicates above the union constant-fold per branch, so
    * even a read that skipped manifest pruning prunes in the plan. */
  def readVersion(spark: SparkSession, tableDir: String, v: Long): DataFrame = {
    val root = Paths.get(tableDir)
    val m = readManifest(root, v)
    val schema = m.schema
    readSnapshotFiles(spark, tableDir, schema,
      TxTransforms.identityNames(m),
      m.files, m.dvDirs, mapping = m.columnMapping)
  }

  /** SQL-standard CHECK enforcement: a row violates only when the
    * expression is FALSE — NULL passes (the standard's treatment of
    * unknown). Loud with the first violating row; one job per
    * constraint over `df` only (never the whole table on appends). */
  private def enforceConstraints(df: DataFrame,
      constraints: Map[String, String], where: String): Unit =
    constraints.toSeq.sortBy(_._1).foreach { case (name, sql) =>
      val bad = df.filter(!functions.coalesce(
        functions.expr(sql), functions.lit(true))).limit(1).collect()
      if (bad.nonEmpty) throw new IllegalArgumentException(
        s"CHECK constraint '$name' ($sql) violated by $where — " +
          s"first violating row: ${bad.head}")
    }

  /** Register a CHECK constraint as a new metadata version (op
    * `constraint`). EXISTING data is validated first — one distributed
    * scan — because a constraint the current snapshot already violates
    * would be a lie every future reader believes (the Delta ADD
    * CONSTRAINT contract). Every subsequent commit and row-level
    * rewrite enforces it on incoming rows before staging. */
  def addConstraint(spark: SparkSession, tableDir: String, name: String,
                    exprSql: String,
                    primitive: CommitPrimitive = PosixLinkPrimitive): Long =
    mutateConstraints(Some(spark), tableDir, Map(name -> exprSql),
      Set.empty, primitive)

  /** Withdraw a CHECK constraint as a new metadata version (op
    * `constraint`) — the reverse of [[addConstraint]]; pure metadata,
    * no validation needed (removing a promise cannot be violated by
    * data). Loud when the name is not registered — silently "dropping"
    * a typo would leave the real constraint in force while the caller
    * believes it gone. */
  def dropConstraint(tableDir: String, name: String,
                     primitive: CommitPrimitive = PosixLinkPrimitive): Long =
    mutateConstraints(None, tableDir, Map.empty, Set(name), primitive)

  /** Atomically add AND withdraw CHECK constraints as ONE metadata
    * version — the engine behind SQL `ALTER TABLE … SET/UNSET
    * TBLPROPERTIES ('check.<name>' …)`, where one statement may carry
    * several properties and must not half-apply: every add is
    * validated against the EXISTING snapshot and every drop checked
    * for existence BEFORE anything publishes, so a failing statement
    * leaves the table exactly as it was. */
  def alterConstraints(spark: SparkSession, tableDir: String,
      add: Map[String, String], drop: Set[String],
      primitive: CommitPrimitive = PosixLinkPrimitive): Long =
    mutateConstraints(Some(spark), tableDir, add, drop, primitive)

  /** Set / unset engine (`tx.*`) table properties as ONE metadata
    * version (op `property`) — the ALTER TABLE SET/UNSET TBLPROPERTIES
    * arm for configuration, mirroring [[alterConstraints]]'s
    * all-or-nothing shape: keys validate ([[validateProperties]]) and
    * unsets existence-check BEFORE anything publishes. */
  def alterProperties(tableDir: String, set: Map[String, String],
      unset: Set[String],
      primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    require(set.nonEmpty || unset.nonEmpty, "no property changes")
    validateProperties(set)
    require(set.keySet.intersect(unset).isEmpty,
      "cannot set and unset the same property in one statement: " +
        set.keySet.intersect(unset).toSeq.sorted.mkString(", "))
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifestLite(root, v) // metadata-only commit: refs carry
    val missing = unset.diff(m.properties.keySet)
    require(missing.isEmpty,
      s"no propert${if (missing.size == 1) "y" else "ies"} " +
        s"${missing.toSeq.sorted.mkString(", ")} on $tableDir (have: " +
        s"${m.properties.keys.toSeq.sorted.mkString(", ")})")
    val manifest = Manifest(v + 1, "property", m.schemaJson, m.files,
      m.txns, m.stats, m.blooms, m.partitionColumns, m.constraints,
      m.dvDirs, m.properties -- unset ++ set, m.columnMapping,
      partitionTransforms = m.partitionTransforms)
    publish(root, manifest, Some(m), primitive)
    v + 1
  }

  /** Shared all-or-nothing constraint mutation. `spark` is only
    * dereferenced when `add` is non-empty (the existing-snapshot
    * validation scan); drop-only calls pass None. */
  private def mutateConstraints(spark: Option[SparkSession],
      tableDir: String, add: Map[String, String], drop: Set[String],
      primitive: CommitPrimitive): Long = {
    require(add.nonEmpty || drop.nonEmpty, "no constraint changes")
    add.foreach { case (n, e) => require(n.nonEmpty && e.nonEmpty,
      "constraint name and expression must be non-empty") }
    val both = add.keySet.intersect(drop)
    require(both.isEmpty, "cannot add and drop the same constraint in " +
      s"one statement: ${both.toSeq.sorted.mkString(", ")}")
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifestLite(root, v) // metadata-only commit: refs carry
    add.keys.foreach(name => require(!m.constraints.contains(name),
      s"constraint '$name' already exists on $tableDir " +
        s"(${m.constraints(name)}) — drop-and-re-add is not supported; " +
        "pick a new name"))
    drop.foreach(name => require(m.constraints.contains(name),
      s"no constraint named '$name' on $tableDir (have: " +
        s"${m.constraints.keys.toSeq.sorted.mkString(", ")})"))
    if (add.nonEmpty)
      enforceConstraints(readVersion(spark.get, tableDir, v), add,
        s"the EXISTING snapshot v$v of $tableDir " +
          "(a constraint must hold before it is promised)")
    val manifest = Manifest(v + 1, "constraint", m.schemaJson, m.files,
      m.txns, m.stats, m.blooms, m.partitionColumns,
      m.constraints -- drop ++ add, m.dvDirs, m.properties,
      m.columnMapping, partitionTransforms = m.partitionTransforms)
    publish(root, manifest, Some(m), primitive)
    v + 1
  }

  /** Metadata-only schema evolution as ONE manifest version (op
    * `evolve`) — nothing rewrites, which on a 100 TB table is the
    * entire point (O(1) driver metadata vs a full-corpus rewrite).
    * ADD appends nullable columns: readers fill NULL for files
    * written before (the read-by-explicit-schema contract
    * [[readSnapshotFiles]] already relies on — parquet resolves
    * columns by name); on a partitioned table new columns slot BEFORE
    * the partition columns so the hive partition-cols-last invariant
    * — and with it every future append's schema-equality check —
    * survives. DROP stops projecting a column the files still
    * physically hold (time travel keeps old versions readable with
    * it) and scrubs its per-file stats and blooms so no manifest
    * entry references a column the schema lacks. Refusals:
    * non-nullable adds (a promise rows written before the column
    * existed cannot keep), duplicate/existing/missing names,
    * partition columns, dropping every column, and drops that break a
    * registered CHECK constraint (each constraint is re-resolved
    * against the post-drop schema — a promise about a vanished column
    * must be withdrawn first, deliberately). */
  def evolveColumns(spark: SparkSession, tableDir: String,
      add: Seq[StructField] = Nil, drop: Seq[String] = Nil,
      primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    require(add.nonEmpty || drop.nonEmpty, "no schema changes")
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    // a DROP scrubs the dropped column out of every carried file's
    // blooms — the ONE commit that rewrites carried bloom bytes, so it
    // alone materializes them (and declares the rewrites to publish).
    // Only sidecar CONTENT says which files bloom the dropped column,
    // so a scrub on a bloom-bearing table reads each referenced sidecar
    // once; on a bloom-FREE table (no refs, no inline blooms — the
    // common case) there is nothing to scrub and the drop stays lite.
    // A pure ADD is a lite metadata commit like rename/widen.
    val mLite = readManifestLite(root, v)
    val m =
      if (drop.isEmpty || (mLite.bloomRefs.isEmpty && mLite.blooms.isEmpty))
        mLite
      else readManifest(root, v)
    val schema = m.schema
    val existing = schema.fieldNames.map(_.toLowerCase).toSet
    add.foreach { f =>
      require(f.nullable,
        s"ADD COLUMN '${f.name}' must be nullable — rows written " +
          "before the column existed can only hold NULL")
      require(!existing(f.name.toLowerCase),
        s"column '${f.name}' already exists in ${schema.simpleString}")
    }
    require(add.map(_.name.toLowerCase).distinct.size == add.size,
      s"duplicate names in ADD: ${add.map(_.name).mkString(", ")}")
    val dropSet = drop.map(_.toLowerCase).toSet
    require(dropSet.size == drop.size,
      s"duplicate names in DROP: ${drop.mkString(", ")}")
    drop.foreach { c =>
      require(existing(c.toLowerCase),
        s"no column '$c' in ${schema.simpleString}")
      require(!m.partitionColumns.exists(_.equalsIgnoreCase(c)),
        s"cannot drop partition column '$c' — relayout with an " +
          "overwrite commit")
      require(!TxTransforms.spec(m).exists(f =>
          !f.isIdentity && f.source.equalsIgnoreCase(c)),
        s"cannot drop '$c' — a partition transform derives its layout " +
          "from it; relayout with an overwrite commit")
    }
    require(add.map(_.name.toLowerCase).toSet.intersect(dropSet).isEmpty,
      "cannot add and drop the same column in one statement")
    val partSet = m.partitionColumns.toSet
    val kept = schema.fields.filterNot(f => dropSet(f.name.toLowerCase))
    require(kept.nonEmpty || add.nonEmpty,
      "cannot drop every column — drop the table's directory instead")
    val (keptData, keptPart) = kept.partition(f => !partSet(f.name))
    val newSchema = StructType(keptData ++ add ++ keptPart)
    if (drop.nonEmpty && m.constraints.nonEmpty) {
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newSchema)
      m.constraints.toSeq.sortBy(_._1).foreach { case (name, sql) =>
        try probe.filter(functions.expr(sql)).queryExecution.analyzed: Unit
        catch { case e: Exception => throw new IllegalArgumentException(
          s"dropping ${drop.mkString(", ")} would break CHECK " +
            s"constraint '$name' ($sql) — drop the constraint first", e)
        }
      }
    }
    // stats/blooms key by PHYSICAL name: scrub the dropped columns'
    // physical spellings, and retire their mapping entries
    val dropPhysSet = schema.fields
      .filter(f => dropSet(f.name.toLowerCase))
      .map(f => physicalName(m.columnMapping, f.name).toLowerCase).toSet
    val mapping2 = m.columnMapping
      .filterNot { case (l, _) => dropSet(l.toLowerCase) }
    val (stats2, blooms2) =
      if (drop.isEmpty) (m.stats, m.blooms)
      else (
        m.stats.view.mapValues(
          _.filterNot { case (c, _) => dropPhysSet(c.toLowerCase) }).toMap,
        m.blooms.view.mapValues(
          _.filterNot { case (c, _) => dropPhysSet(c.toLowerCase) }).toMap
          .filter(_._2.nonEmpty))
    val manifest = Manifest(v + 1, "evolve", newSchema.json, m.files,
      m.txns, stats2, blooms2, m.partitionColumns, m.constraints,
      m.dvDirs, m.properties, mapping2,
      partitionTransforms = m.partitionTransforms)
    // declared rewrites: every file whose bloom map the scrub CHANGED
    // (dropped-column entry removed — including maps that emptied out)
    val rewrites =
      if (drop.isEmpty) Set.empty[String]
      else m.blooms.keysIterator
        .filter(f => blooms2.get(f) != m.blooms.get(f)).toSet
    publish(root, manifest, Some(m), primitive, bloomRewrites = rewrites)
    v + 1
  }

  // ------------------------------------ column mapping (RENAME COLUMN)

  /** The physical (file-byte) name of logical column `c` under
    * `mapping` — identity when never renamed. */
  private[graft] def physicalName(mapping: Map[String, String],
                                  c: String): String =
    mapping.getOrElse(c, c)

  /** The schema as parquet files spell it: every field renamed to its
    * physical name (types, nullability, order unchanged — a rename is
    * a pure relabeling, which is what makes positional row binding
    * between the two spellings sound). */
  private[graft] def physicalSchema(schema: StructType,
                                    mapping: Map[String, String]): StructType =
    if (mapping.isEmpty) schema
    else StructType(schema.fields.map(f =>
      f.copy(name = mapping.getOrElse(f.name, f.name))))

  /** Rename a logical-named frame to physical names for STAGING — what
    * every writer does right before the parquet write, so all files of
    * a table agree on byte-level names regardless of rename history. */
  private[graft] def toPhysical(df: DataFrame,
                                mapping: Map[String, String]): DataFrame =
    if (mapping.isEmpty) df
    else df.select(df.columns.toSeq.map(c =>
      functions.col(c).as(mapping.getOrElse(c, c))): _*)

  /** The manifest's per-file stats re-keyed by LOGICAL column name —
    * what every skip decision consumes (filters carry logical names).
    * Physical keys with no live logical counterpart (a dropped column's
    * residue) simply disappear from the view — an unprunable column,
    * the conservative default. NEVER persist this view: manifests carry
    * physical keys. */
  private[graft] def logicalStats(m: Manifest)
      : Map[String, Map[String, TxStats.ColStat]] =
    if (m.columnMapping.isEmpty) m.stats
    else {
      val rev = m.columnMapping.map(_.swap)
      m.stats.view.mapValues(_.map { case (k, v) =>
        rev.getOrElse(k, k) -> v }).toMap
    }

  /** [[logicalStats]] for the bloom layer. */
  private[graft] def logicalBlooms(m: Manifest)
      : Map[String, Map[String, TxStats.FileBloom]] =
    if (m.columnMapping.isEmpty) m.blooms
    else {
      val rev = m.columnMapping.map(_.swap)
      m.blooms.view.mapValues(_.map { case (k, v) =>
        rev.getOrElse(k, k) -> v }).toMap
    }

  /** THE ONE MANIFEST-LEVEL SPLIT of `m`'s files by a predicate:
    * (files that may hold a row on which every filter is TRUE, files
    * provably free of one) — [[TxStats.mayMatch]] per file. Filters
    * carry LOGICAL names, so stats and blooms are read through the
    * logical view (survives RENAME COLUMN), and hidden-partitioning
    * projections sharpen the cut (a predicate on a bucketed or
    * day-partitioned source column prunes to its derived directories,
    * [[TxTransforms]] scaladoc). Untranslatable conjuncts never reach
    * here and prune nothing; no filters touch every file. Every
    * predicate-scoped rewrite selects its files here: OPTIMIZE/ZORDER
    * WHERE, DELETE (both arms), replaceWhere, UPDATE and MERGE. */
  private[graft] def partitionFiles(m: Manifest,
      filters: Seq[org.apache.spark.sql.sources.Filter])
      : (Seq[String], Seq[String]) =
    if (filters.isEmpty) (m.files, Seq.empty)
    else {
      val (lst, lbl) = (logicalStats(m), logicalBlooms(m))
      val skipFs = TxTransforms.withProjections(filters, m)
      val skipSch = TxTransforms.skipSchema(m.schema, m)
      m.files.partition(f => TxStats.mayMatch(lst.getOrElse(f, Map.empty),
        lbl.getOrElse(f, Map.empty), skipSch, skipFs))
    }

  /** `ALTER TABLE … RENAME COLUMN` as ONE metadata version (op
    * `rename`) — zero data movement, the column-id-mapping design
    * Delta/Iceberg use: the logical schema changes, the manifest
    * records where the bytes still live ([[Manifest.columnMapping]]),
    * and nothing else moves. Stats and blooms keep their physical keys,
    * so file skipping on the renamed column survives
    * ([[logicalStats]]); historical versions keep their own names
    * through time travel; future appends stage under the ORIGINAL
    * physical name ([[toPhysical]]) so every file of the table agrees.
    *
    * Refusals: missing source, existing target (case-insensitive),
    * partition columns (their name IS the directory layout — relayout
    * with an overwrite), and renames that break a registered CHECK
    * constraint (the constraint references the old name; withdraw it
    * first, deliberately). */
  def renameColumn(spark: SparkSession, tableDir: String,
                   from: String, to: String,
                   primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    require(to.nonEmpty && !to.contains('$'),
      s"illegal column name '$to'")
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    val m = readManifestLite(root, v) // metadata-only commit: refs carry
    val schema = m.schema
    require(schema.fieldNames.contains(from),
      s"no column '$from' in ${schema.simpleString}")
    require(!schema.fieldNames.exists(
        n => n != from && n.equalsIgnoreCase(to)),
      s"column '$to' already exists in ${schema.simpleString}")
    require(from != to, "RENAME COLUMN to the same name is a no-op — " +
      "refusing to commit an empty version")
    require(!m.partitionColumns.contains(from),
      s"cannot rename partition column '$from' — its name is the " +
        "directory layout; relayout with an overwrite commit")
    require(!TxTransforms.spec(m).exists(f =>
        !f.isIdentity && f.source == from),
      s"cannot rename '$from' — a partition transform derives its " +
        "layout from it; relayout with an overwrite commit")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    if (m.constraints.nonEmpty) {
      val probe = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], newSchema)
      m.constraints.toSeq.sortBy(_._1).foreach { case (name, sql) =>
        try probe.filter(functions.expr(sql)).queryExecution.analyzed: Unit
        catch { case e: Exception => throw new IllegalArgumentException(
          s"renaming '$from' would break CHECK constraint '$name' " +
            s"($sql) — drop the constraint first", e)
        }
      }
    }
    // the bytes keep the column's ORIGINAL physical name; renaming back
    // to it collapses to identity (entry omitted)
    val phys = physicalName(m.columnMapping, from)
    val base = m.columnMapping - from
    val newMapping = if (to == phys) base else base + (to -> phys)
    val manifest = Manifest(v + 1, "rename", newSchema.json, m.files,
      m.txns, m.stats, m.blooms, m.partitionColumns, m.constraints,
      m.dvDirs, m.properties, newMapping,
      partitionTransforms = m.partitionTransforms)
    publish(root, manifest, Some(m), primitive)
    v + 1
  }

  /** The widening lattice `ALTER COLUMN … TYPE` honors — the Iceberg
    * spec's primitive promotions (byte/short/int up the integral chain,
    * float→double), exactly the set parquet's vectorized reader
    * promotes losslessly when the requested read schema is wider than
    * the file's physical type. Everything else (narrowing, int→string,
    * long→double's precision loss above 2^53) refuses. */
  private val Widenings: Map[DataType, Set[DataType]] = Map(
    org.apache.spark.sql.types.ByteType ->
      Set(org.apache.spark.sql.types.ShortType,
        org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.ShortType ->
      Set(org.apache.spark.sql.types.IntegerType,
        org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.IntegerType ->
      Set(org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.FloatType ->
      Set(org.apache.spark.sql.types.DoubleType))

  /** `ALTER TABLE … ALTER COLUMN <col> TYPE <wider>` as ONE metadata
    * version (op `widen`) — zero data movement, the Iceberg/Delta
    * type-widening design: the logical schema gets the wider type,
    * files keep their narrow bytes, and every reader relies on
    * parquet's lossless read-schema promotion (int32 read as long,
    * float as double — [[readSnapshotFiles]] reads by explicit schema,
    * so old and new files coexist in one scan). Future appends stage
    * at the WIDE type; time travel keeps old versions at their own
    * committed types.
    *
    * The one non-metadata subtlety is file-skipping stats: a float
    * column's min/max strings were recorded via `Float.toString`, and
    * re-parsing "0.1" as a DOUBLE yields a different real number than
    * the promoted float rows actually hold — close enough to look
    * right, wrong enough to skip a file whose rows equal the predicate
    * exactly. The widen commit therefore rewrites that column's stat
    * strings through the EXACT float→double promotion (`toFloat
    * .toDouble` — `Float.toString` round-trips, so this is the precise
    * min/max of the promoted values). Integral stats are decimal
    * strings and re-parse exactly at any width. Blooms key by
    * magnitude-truncated longs, identical before and after promotion —
    * untouched.
    *
    * Refusals: missing column, partition columns (their values live in
    * paths, parsed by declared type — relayout with an overwrite), and
    * any transition outside [[Widenings]]. */
  def widenColumn(spark: SparkSession, tableDir: String, col: String,
                  newType: DataType,
                  primitive: CommitPrimitive = PosixLinkPrimitive): Long = {
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    // lite: a widen rewrites STAT strings only — blooms key by
    // magnitude-truncated longs, identical before and after promotion
    val m = readManifestLite(root, v)
    val schema = m.schema
    require(schema.fieldNames.contains(col),
      s"no column '$col' in ${schema.simpleString}")
    require(!m.partitionColumns.contains(col),
      s"cannot widen partition column '$col' — its values are parsed " +
        "from paths by declared type; relayout with an overwrite commit")
    require(!TxTransforms.spec(m).exists(f =>
        !f.isIdentity && f.source == col),
      s"cannot widen '$col' — a partition transform derives its layout " +
        "from it (bucket hashes differ by width: hashInt(v) != " +
        "hashLong(v)); relayout with an overwrite commit")
    val oldType = schema(col).dataType
    require(Widenings.get(oldType).exists(_.contains(newType)),
      s"cannot change column '$col' from ${oldType.simpleString} to " +
        s"${newType.simpleString} — supported widenings: byte→short/" +
        "int/long, short→int/long, int→long, float→double (lossless " +
        "parquet read-schema promotions; anything else needs a rewrite)")
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == col) f.copy(dataType = newType) else f))
    val phys = physicalName(m.columnMapping, col)
    val stats2 =
      if (oldType != org.apache.spark.sql.types.FloatType) m.stats
      else m.stats.view.mapValues(_.map { case (k, cs) =>
        if (k.equalsIgnoreCase(phys) && cs.min.nonEmpty)
          // copy: the null/row counts survive the widen untouched
          k -> cs.copy(min = cs.min.toFloat.toDouble.toString,
            max = cs.max.toFloat.toDouble.toString)
        else k -> cs
      }).toMap
    val manifest = Manifest(v + 1, "widen", newSchema.json, m.files,
      m.txns, stats2, m.blooms, m.partitionColumns, m.constraints,
      m.dvDirs, m.properties, m.columnMapping,
      partitionTransforms = m.partitionTransforms)
    publish(root, manifest, Some(m), primitive)
    v + 1
  }

  /** The one snapshot-file reader every consumer shares (readVersion,
    * DELETE's candidate read, UPDATE/MERGE's rewrite read): flat tables
    * read as plain parquet; partitioned tables read per value group
    * with the manifest-derived values attached as typed literals
    * ([[readVersion]] scaladoc has the why-not-hive-discovery story).
    * `tidCol` optionally appends a STABLE per-row identity — the
    * parquet `_metadata` (file path, row index) — built INSIDE each
    * branch so it survives the union; recomputation-safe by
    * construction (the id is a function of immutable file bytes). */
  /** Deletion-vector plumbing: a row's DV identity is (physical file
    * path RELATIVE to the table root, parquet row index) — a pure
    * function of immutable file bytes, so it survives recomputation,
    * and relative so the table directory can move. Both the writer
    * ([[deleteWhereMor]]) and every reader derive it with THIS
    * function, which is what makes the keys meet. */
  private[sources] val DvFileCol = "__dv_file"
  private[sources] val DvPosCol = "__dv_pos"
  private def dvRelPath(root: Path,
      fp: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val rootStr = root.toAbsolutePath.toString
    // `_metadata.file_path` is a URI ("file:/…"): locate the absolute
    // root inside it rather than assuming the scheme prefix
    functions.when(functions.locate(rootStr + "/", fp) === 0,
      functions.lit(null))
      .otherwise(fp.substr(
        functions.locate(rootStr + "/", fp) +
          functions.lit(rootStr.length + 1),
        functions.lit(Int.MaxValue)))
  }

  /** The (file, pos) tombstone set across every live sidecar dir. */
  private[sources] def readDvFrame(spark: SparkSession, root: Path,
      dvDirs: Seq[String]): DataFrame =
    spark.read.schema(StructType(Seq(
        StructField("file", org.apache.spark.sql.types.StringType),
        StructField("pos", org.apache.spark.sql.types.LongType))))
      .parquet(dvDirs.map(d => root.resolve(d).toString): _*)

  /** `dvDirs` is REQUIRED (no default) so every caller must decide
    * what the snapshot's tombstones are — a reader that forgot them
    * would resurrect deleted rows, silently. `dvMeta = true` appends
    * the [[DvFileCol]]/[[DvPosCol]] identity columns to the output
    * (the MoR delete writer's hook). */
  private[sources] def readSnapshotFiles(spark: SparkSession,
      tableDir: String, schema: StructType, partitionColumns: Seq[String],
      files: Seq[String], dvDirs: Seq[String],
      tidCol: Option[String] = None, dvMeta: Boolean = false,
      mapping: Map[String, String] = Map.empty): DataFrame = {
    val root = Paths.get(tableDir)
    val needDv = dvDirs.nonEmpty || dvMeta
    if (needDv) Seq(DvFileCol, DvPosCol).foreach(c => require(
      !schema.fieldNames.contains(c), s"table may not have a '$c' column"))
    // files spell renamed columns by their PHYSICAL names: the scan
    // reads physical, the final projection relabels to logical —
    // positions and types identical, zero runtime cost
    val outFields: Seq[org.apache.spark.sql.Column] =
      schema.fieldNames.toSeq.map(n =>
        functions.col(physicalName(mapping, n)).as(n)) ++
      (tidCol.toSeq ++ (if (dvMeta) Seq(DvFileCol, DvPosCol) else Nil))
        .map(functions.col)
    def withMeta(df: DataFrame): DataFrame = {
      val t = tidCol match {
        case None => df
        case Some(c) => df.withColumn(c, functions.concat_ws("#",
          functions.col("_metadata.file_path"),
          functions.col("_metadata.row_index")))
      }
      if (!needDv) t
      else t
        .withColumn(DvFileCol,
          dvRelPath(root, functions.col("_metadata.file_path")))
        .withColumn(DvPosCol, functions.col("_metadata.row_index"))
    }
    def applyDv(df: DataFrame): DataFrame = {
      // distributed left-anti on the tombstone set — never through
      // the driver; AQE picks broadcast when the DVs are small (the
      // common case: tombstones ∝ deleted rows, not table size)
      val dv = readDvFrame(spark, root, dvDirs)
      df.join(dv, df(DvFileCol) === dv("file") &&
        df(DvPosCol) === dv("pos"), "left_anti")
    }
    // one value-group/flat scan over `fs`; `anti` hangs the tombstone
    // anti-join on it
    def buildPart(fs: Seq[String], anti: Boolean): DataFrame = {
      val scan =
        if (partitionColumns.isEmpty)
          withMeta(spark.read.schema(physicalSchema(schema, mapping))
            .parquet(fs.map(f => root.resolve(f).toString): _*))
        else {
          val partSet = partitionColumns.toSet
          // partition columns are never renameable, so their physical
          // names equal their logical ones — only data columns relabel
          val dataSchema = physicalSchema(
            StructType(schema.fields.filterNot(f => partSet(f.name))),
            mapping)
          fs.groupBy(f => partitionColumns
              .map(c => partitionValuesFromPath(f, partSet).get(c)))
            .toSeq.sortBy(_._1.toString)
            .map { case (vals, gfs) =>
              val base = withMeta(spark.read.schema(dataSchema)
                .parquet(gfs.map(f => root.resolve(f).toString): _*))
              partitionColumns.zip(vals).foldLeft(base) {
                case (df, (c, v0)) =>
                  df.withColumn(c, v0.map(functions.lit(_))
                    .getOrElse(functions.lit(null))
                    .cast(schema(c).dataType))
              }
            }
            .reduce(_ unionByName _)
        }
      (if (anti) applyDv(scan) else scan)
        .select(outFields: _*)
    }
    if (files.isEmpty) {
      val base = spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      val withT = tidCol.fold(base)(c =>
        base.withColumn(c, functions.lit(null).cast("string")))
      if (!dvMeta) withT
      else withT
        .withColumn(DvFileCol, functions.lit(null).cast("string"))
        .withColumn(DvPosCol, functions.lit(null).cast("long"))
    } else if (dvDirs.isEmpty) buildPart(files, anti = false)
    else {
      // only tombstone-BEARING files pay the anti-join; clean files
      // scan join-free (no shuffle, unbroken whole-stage codegen) —
      // at 100 TB a DV table's tombstones live in a handful of files,
      // so the join touches a sliver of the snapshot. The split costs
      // one metadata-sized distinct over the sidecars (O(affected
      // files) driver rows, the manifest's own envelope).
      val dvFiles = readDvFrame(spark, root, dvDirs)
        .select("file").distinct().collect().map(_.getString(0)).toSet
      val (tomb, clean) = files.partition(e =>
        dvFiles.contains(e) || dvFiles.exists(_.startsWith(e + "/")))
      (clean, tomb) match {
        case (_, Nil) => buildPart(clean, anti = false)
        case (Nil, _) => buildPart(tomb, anti = true)
        case _ => buildPart(clean, anti = false)
          .unionByName(buildPart(tomb, anti = true))
      }
    }
  }

  // ------------------------------------------------------------ internals

  /** Directory listing that CLOSES the underlying stream — `Files.list`
    * holds a directory handle until closed, which leaks in a long-lived
    * driver doing many commits/reads. */
  private def listNames(dir: Path): Seq[String] = {
    val s = Files.list(dir)
    try s.iterator().asScala.map(_.getFileName.toString).toSeq
    finally s.close()
  }

  /** Run `task(0 until n)` on a bounded pool of `parallelism` daemon
    * threads, propagating the first failure after all threads stop.
    * Factored out of [[compact]] so the pool discipline (never more
    * than `parallelism` tasks in flight, all `n` complete exactly once)
    * is testable without Spark jobs. */
  private[graft] def runConcurrently(n: Int, parallelism: Int)
                                    (task: Int => Unit): Unit = {
    require(parallelism >= 1, s"parallelism must be >= 1, got $parallelism")
    if (n <= 0) return
    if (n == 1 || parallelism == 1) { (0 until n).foreach(task); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.min(n, parallelism),
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    try {
      val futures = (0 until n).map(i =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          def call(): Unit = task(i)
        }))
      // get() each: surfaces the first failure (unwrapped) and ensures
      // every task finished before the caller publishes the manifest
      futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            throw e.getCause
        }
      }
    } finally { pool.shutdownNow(); () }
  }

  /** Run a tx data-file write with parquet timestamp output pinned to
    * INT64 TIMESTAMP_MICROS (set + restore around `body`). Spark still
    * defaults to INT96, whose footers carry NO usable min/max — pinning
    * micros is what makes [[TxStats]] timestamp skipping possible (raw
    * `ts` range predicates prove files out on UNPARTITIONED tables).
    * The conf is session-global, so a concurrent NON-tx parquet write
    * in the same session may emit micros during the window — valid
    * parquet either way (INT96 is deprecated upstream); concurrent TX
    * writes share one REF-COUNTED pin per session (first in sets, last
    * out restores), so no writer can un-pin the key mid-stage for
    * another. There is no per-write option:
    * ParquetFileFormat.prepareWrite reads the session SQLConf only. */
  private val microsPinLock = new Object
  // per-session pin depth + the value to restore when the LAST in-flight
  // tx write drains — a plain set/restore per call would race under
  // concurrent same-session commits (one writer's restore un-pinning the
  // key mid-stage for another, silently losing its timestamp stats, or
  // interleaved finallys leaking the pin permanently)
  private val microsPins = new java.util.IdentityHashMap[
    org.apache.spark.sql.SparkSession, (Int, Option[String])]()

  private def withMicrosTimestamps[A](
      spark: org.apache.spark.sql.SparkSession)(body: => A): A = {
    val key = "spark.sql.parquet.outputTimestampType"
    microsPinLock.synchronized {
      microsPins.get(spark) match {
        case null =>
          microsPins.put(spark, (1, spark.conf.getOption(key))): Unit
          spark.conf.set(key, "TIMESTAMP_MICROS")
        case (depth, prev) =>
          microsPins.put(spark, (depth + 1, prev)): Unit
      }
    }
    try body
    finally microsPinLock.synchronized {
      val (depth, prev) = microsPins.get(spark)
      if (depth == 1) {
        microsPins.remove(spark): Unit
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None    => spark.conf.unset(key)
        }
      } else microsPins.put(spark, (depth - 1, prev)): Unit
    }
  }

  /** How many footer opens run concurrently when a commit gathers
    * per-file stats. On local disk the serial loop was merely linear;
    * on object storage each footer is a ~50-100 ms round trip, so a
    * 1,000-file append paid MINUTES of commit latency one open at a
    * time — the r19 verdict's #2 scale finding. Bounded (not
    * files-wide) so a huge commit cannot exhaust driver descriptors. */
  private[sources] val StatsReadParallelism = 8

  /** Reader-thread counts observed by recent stats gathers — the
    * suite's observable that the footer loop is no longer serial (a
    * multi-file staging must record >= 2 threads). A BOUNDED LRU of the
    * last 16 roots (not one entry per table forever — the r20 leak, and
    * not a single latest-only slot — the r21 fix that made the
    * observable racy whenever two gathers interleaved in one session). */
  private val statsReadThreads =
    new java.util.LinkedHashMap[String, java.lang.Integer](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, java.lang.Integer]): Boolean =
        size() > 16
    }

  private[graft] def statsReadThreadCount(tableDir: String): Int =
    statsReadThreads.synchronized {
      val n = statsReadThreads.get(
        Paths.get(tableDir).toAbsolutePath.toString)
      if (n == null) 0 else n.intValue()
    }

  /** Per-file footer stats for freshly-written files, gathered with
    * bounded parallelism ([[runConcurrently]] — the [[compact]] pool
    * discipline applied to metadata IO). `extra` merges in
    * path-derived entries (partition min=max values) per file; results
    * land by index, so the returned map is bit-identical to the old
    * serial loop's regardless of completion order. */
  private def statsForFiles(root: Path, files: Seq[String],
      schema: StructType,
      extra: String => Map[String, TxStats.ColStat] = _ => Map.empty)
      : Map[String, Map[String, TxStats.ColStat]] = {
    val threads =
      java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val out = new Array[Map[String, TxStats.ColStat]](files.length)
    runConcurrently(files.length, StatsReadParallelism) { i =>
      threads.add(Thread.currentThread().getName): Unit
      out(i) = TxStats.forFile(root.resolve(files(i)), schema) ++
        extra(files(i))
    }
    statsReadThreads.synchronized {
      statsReadThreads.put(root.toAbsolutePath.toString,
        threads.size()): Unit
    }
    files.indices.flatMap(i =>
      if (out(i).isEmpty) None else Some(files(i) -> out(i))).toMap
  }

  private[sources] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      listNames(p).foreach(n => deleteRecursively(p.resolve(n)))
    Files.deleteIfExists(p): Unit
  }

  /** By-name schema union for `mergeSchema` appends: table fields first
    * (their order is what every existing reader resolves against), then
    * the frame's genuinely-new fields; a name on both sides must agree
    * on type up to nullability, or the merge refuses loudly. Every
    * merged field is nullable — old files have no bytes for new
    * columns, so NULL is the only honest value there. */
  private[sources] def mergeSchemas(table: StructType,
                                    frame: StructType): StructType = {
    val byName = frame.fields.map(f => f.name -> f).toMap
    table.fields.foreach { tf =>
      byName.get(tf.name).foreach { ff =>
        require(asNullable(tf.dataType) == asNullable(ff.dataType),
          s"mergeSchema type conflict on '${tf.name}': table has " +
            s"${tf.dataType.simpleString}, frame has " +
            s"${ff.dataType.simpleString} — cast explicitly, a silent " +
            "type change corrupts every existing row")
      }
    }
    val tableNames = table.fieldNames.toSet
    StructType(
      (table.fields ++ frame.fields.filterNot(f => tableNames(f.name)))
        .map(f => StructField(f.name, f.dataType, nullable = true,
          metadata = f.metadata)))
  }

  /** Structural schema with every nullability flag (and field metadata)
    * normalized — parquet round trips widen to nullable, which must not
    * fail a legitimate append. */
  private def asNullable(dt: DataType): DataType = dt match {
    case s: StructType =>
      // fields rebuilt from scratch: nullability forced true AND
      // per-field metadata dropped (explicitly, so the doc contract is
      // visible here) — both are representation noise for this compare
      StructType(s.fields.map(f =>
        StructField(f.name, asNullable(f.dataType), nullable = true,
          metadata = org.apache.spark.sql.types.Metadata.empty)))
    case a: ArrayType => ArrayType(asNullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(asNullable(m.keyType), asNullable(m.valueType),
        valueContainsNull = true)
    case other => other
  }

  private object VersionName {
    private val P = "^v(\\d{5,})\\.json$".r
    def unapply(name: String): Option[Long] = name match {
      case P(d) => Some(d.toLong)
      case _    => None
    }
  }

  private object CkptName {
    private val P = "^v(\\d{5,})\\.ckpt\\.(json|parquet)$".r
    def unapply(name: String): Option[Long] = name match {
      case P(d, _) => Some(d.toLong)
      case _       => None
    }
  }

  private def manifestPath(root: Path, v: Long): Path =
    root.resolve(LogDir).resolve(f"v$v%05d.json")
  /** The LEGACY (fmt-2) monolithic-JSON checkpoint path — readable
    * forever as a replay base, never written anymore. */
  private def ckptPath(root: Path, v: Long): Path =
    root.resolve(LogDir).resolve(f"v$v%05d.ckpt.json")
  /** The fmt-3 COLUMNAR checkpoint path (see [[writeCheckpoint]]). */
  private def ckptParquetPath(root: Path, v: Long): Path =
    root.resolve(LogDir).resolve(f"v$v%05d.ckpt.parquet")
  /** A USABLE checkpoint at v — a regular file in either format, not
    * debris (a blocked path or stray directory must read as \"no
    * checkpoint\", never as one): every probe in the load/vacuum/repair
    * paths goes through this. */
  private def hasCkpt(root: Path, v: Long): Boolean =
    Files.isRegularFile(ckptParquetPath(root, v)) ||
      Files.isRegularFile(ckptPath(root, v))
  private val BloomsRel = s"$LogDir/blooms"

  // ------------------------- shared JSON pieces (delta + checkpoint)

  private type Mapper = com.fasterxml.jackson.databind.ObjectMapper
  private type ONode = com.fasterxml.jackson.databind.node.ObjectNode
  private type JNode = com.fasterxml.jackson.databind.JsonNode

  private def putStringArray(node: ONode, name: String,
                             xs: Seq[String]): Unit =
    if (xs.nonEmpty) { val a = node.putArray(name); xs.foreach(a.add): Unit }

  private def getStringArray(node: JNode, name: String): Seq[String] =
    Option(node.get(name))
      .map(_.elements().asScala.map(_.asText()).toSeq).getOrElse(Seq.empty)

  private def putStringMap(node: ONode, name: String,
                           m: Map[String, String]): Unit =
    if (m.nonEmpty) {
      val o = node.putObject(name)
      m.toSeq.sortBy(_._1).foreach { case (k, v) => o.put(k, v): Unit }
    }

  private def getStringMap(node: JNode, name: String): Map[String, String] =
    Option(node.get(name)).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap)
      .getOrElse(Map.empty)

  private def putTxns(node: ONode, txns: Map[String, Long]): Unit =
    if (txns.nonEmpty) {
      val tx = node.putObject("txns")
      txns.toSeq.sortBy(_._1).foreach { case (k, ver) => tx.put(k, ver): Unit }
    }

  private def getTxns(node: JNode): Map[String, Long] =
    Option(node.get("txns")).map(_.properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap)
      .getOrElse(Map.empty)

  /** `stats` object: {file: {col: {min, max, nulls?, rows?}}} — the one
    * shape old full manifests, fmt-2 deltas (as upserts), and
    * checkpoints all share. */
  private def putStats(node: ONode, name: String,
      stats: Map[String, Map[String, TxStats.ColStat]]): Unit =
    if (stats.nonEmpty) {
      val st = node.putObject(name)
      stats.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val fo = st.putObject(file)
        cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
          val co = fo.putObject(c)
          co.put("min", cs.min)
          co.put("max", cs.max): Unit
          // null/row counts only when KNOWN (-1 = unknown stays
          // implicit — old manifests read back identically)
          if (cs.nulls >= 0L) co.put("nulls", cs.nulls): Unit
          if (cs.rows >= 0L) co.put("rows", cs.rows): Unit
        }
      }
    }

  private def getStats(node: JNode, name: String)
      : Map[String, Map[String, TxStats.ColStat]] =
    Option(node.get(name)).map { st =>
      st.properties().asScala.map { fe =>
        fe.getKey -> fe.getValue.properties().asScala.map { ce =>
          ce.getKey -> TxStats.ColStat(ce.getValue.get("min").asText(),
            ce.getValue.get("max").asText(),
            Option(ce.getValue.get("nulls")).map(_.asLong()).getOrElse(-1L),
            Option(ce.getValue.get("rows")).map(_.asLong()).getOrElse(-1L))
        }.toMap
      }.toMap
    }.getOrElse(Map.empty)

  /** Blooms object: {file: {col: {b64, k, str}}} — old full manifests
    * inline it; fmt 2 writes the same shape into sidecar files. */
  private def putBlooms(node: ONode, name: String,
      blooms: Map[String, Map[String, TxStats.FileBloom]]): Unit =
    if (blooms.nonEmpty) {
      val bl = node.putObject(name)
      blooms.toSeq.sortBy(_._1).foreach { case (file, cols) =>
        val fo = bl.putObject(file)
        cols.toSeq.sortBy(_._1).foreach { case (c, b) =>
          val co = fo.putObject(c)
          val buf = java.nio.ByteBuffer.allocate(b.words.length * 8)
          buf.order(java.nio.ByteOrder.LITTLE_ENDIAN)
          b.words.foreach(buf.putLong(_): Unit)
          co.put("b64", java.util.Base64.getEncoder.encodeToString(buf.array()))
          co.put("k", b.k)
          co.put("str", b.isString): Unit
        }
      }
    }

  private def getBlooms(node: JNode, name: String)
      : Map[String, Map[String, TxStats.FileBloom]] =
    Option(node.get(name)).map { bl =>
      bl.properties().asScala.map { fe =>
        fe.getKey -> fe.getValue.properties().asScala.map { ce =>
          ce.getKey -> decodeBloom(ce.getValue)
        }.toMap
      }.toMap
    }.getOrElse(Map.empty)

  /** The small per-version table metadata every commit carries in full
    * (O(columns + constraints + appIds) — never O(files)). */
  private def putSmallMeta(node: ONode, m: Manifest): Unit = {
    putTxns(node, m.txns)
    putStringArray(node, "partitionBy", m.partitionColumns)
    putStringMap(node, "partitionTransforms", m.partitionTransforms)
    putStringMap(node, "constraints", m.constraints)
    putStringArray(node, "dvDirs", m.dvDirs)
    putStringMap(node, "properties", m.properties)
    putStringMap(node, "columnMapping", m.columnMapping)
  }

  /** Bloom-sidecar files READ per table root since JVM start — the
    * observable the commit-path scale contract is pinned on
    * (`TxLogSpec`): an append commit, a `lastTxn` pre-check, a metadata
    * commit, and a vacuum all read ZERO sidecars; only consumers that
    * genuinely evaluate bloom bytes (snapshot scans, row-level
    * candidate selection) pay them. Keyed by root so concurrent suites
    * observe their own tables only. */
  private val sidecarReadCounts =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.atomic.AtomicLong]()

  private[graft] def sidecarReadCount(tableDir: String): Long = {
    val c = sidecarReadCounts.get(
      Paths.get(tableDir).toAbsolutePath.toString)
    if (c == null) 0L else c.get()
  }

  /** Write `content` as an immutable, content-addressed bloom sidecar
    * under `_txlog/blooms/` and return its table-relative path. The
    * name is the SHA-256 of the serialized bytes (serialization is
    * key-sorted, so identical content — e.g. a rebase retry — lands on
    * the identical path and the existing file is simply reused). A
    * sidecar orphaned by a lost publish race is reclaimed by vacuum's
    * liveness+age sweep, never by the writer. */
  private def writeBloomSidecar(root: Path,
      content: Map[String, Map[String, TxStats.FileBloom]]): String = {
    val mapper = new Mapper()
    val node = mapper.createObjectNode()
    putBlooms(node, "files", content)
    val bytes = mapper.writeValueAsBytes(node)
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(bytes)
    val name = sha.take(16).map(b => f"$b%02x").mkString
    val rel = s"$BloomsRel/$name.json"
    val p = root.resolve(rel)
    if (!Files.exists(p)) {
      Files.createDirectories(p.getParent)
      val tmp = p.getParent.resolve(s".tmp-${java.util.UUID.randomUUID()}")
      Files.write(tmp, bytes)
      // REPLACE on a concurrent identical write is harmless (same bytes)
      try Files.move(tmp, p,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      catch {
        case e: Exception =>
          Files.deleteIfExists(tmp): Unit
          // tolerate the failed move ONLY when a concurrent identical
          // write already landed the content-addressed file; otherwise
          // rethrow so the commit aborts HERE — publishing a reference
          // to a sidecar that never landed would make every subsequent
          // bloom-materializing snapshot load fail (readBloomSidecar's
          // loud require), permanently poisoning the log
          if (!Files.exists(p)) throw new IllegalStateException(
            s"failed to write bloom sidecar $rel", e)
      }
    }
    rel
  }

  private def readBloomSidecar(root: Path, rel: String)
      : Map[String, Map[String, TxStats.FileBloom]] = {
    val p = root.resolve(rel)
    require(Files.exists(p),
      s"bloom sidecar $rel is missing under $root — the log references " +
        "it; was it deleted out of band?")
    sidecarReadCounts.computeIfAbsent(root.toAbsolutePath.toString,
      _ => new java.util.concurrent.atomic.AtomicLong(0L))
      .incrementAndGet(): Unit
    getBlooms(new Mapper().readTree(Files.readAllBytes(p)), "files")
  }

  /** One parsed fmt-2 commit delta. */
  private final case class LogDelta(op: String, schemaJson: String,
      txns: Map[String, Long], partitionColumns: Seq[String],
      partitionTransforms: Map[String, String],
      constraints: Map[String, String], dvDirs: Seq[String],
      properties: Map[String, String], columnMapping: Map[String, String],
      add: Seq[String], remove: Seq[String],
      statUpserts: Map[String, Map[String, TxStats.ColStat]],
      bloomRef: Option[String], bloomRefFiles: Seq[String],
      bloomDrop: Seq[String], changeDir: Option[String])

  private def parseDelta(node: JNode): LogDelta =
    LogDelta(node.get("op").asText(), node.get("schema").asText(),
      getTxns(node), getStringArray(node, "partitionBy"),
      getStringMap(node, "partitionTransforms"),
      getStringMap(node, "constraints"), getStringArray(node, "dvDirs"),
      getStringMap(node, "properties"),
      getStringMap(node, "columnMapping"),
      getStringArray(node, "add"), getStringArray(node, "remove"),
      getStats(node, "stats"),
      Option(node.get("bloomRef")).map(_.asText()),
      getStringArray(node, "bloomRefFiles"),
      getStringArray(node, "bloomDrop"),
      Option(node.get("changeDir")).map(_.asText()))

  /** Parse a PRE-INCREMENTAL full manifest (no `fmt` field): the
    * complete state inline, blooms included — readable forever, and a
    * natural replay base for fmt-2 deltas committed on top. */
  private def parseFull(node: JNode): Manifest =
    Manifest(node.get("version").asLong(), node.get("op").asText(),
      node.get("schema").asText(), getStringArray(node, "files"),
      getTxns(node), getStats(node, "stats"), getBlooms(node, "blooms"),
      getStringArray(node, "partitionBy"),
      getStringMap(node, "constraints"), getStringArray(node, "dvDirs"),
      getStringMap(node, "properties"),
      getStringMap(node, "columnMapping"),
      partitionTransforms = getStringMap(node, "partitionTransforms"))

  /** Materialize the FULL state at a version as a checkpoint file —
    * fmt 3, a real COLUMNAR PARQUET file (the Delta checkpoint.parquet
    * shape): one row per file (carrying its bloom-sidecar reference)
    * plus one row per (file, column) stat entry, and the O(columns)
    * small metadata (schema, txns, constraints, properties, layout) as
    * one JSON string in the parquet footer's key-value metadata.
    *
    * Why not the old monolithic JSON (fmt 2, still readable forever):
    * at 1M live files × ~200 B of stats the checkpoint is hundreds of
    * MB, and a single Jackson tree parse of it was a several-GB driver
    * heap spike per cold load — the last O(live-files) driver-text-IO
    * path in the log. The parquet form is written STREAMING (row
    * groups flush incrementally — memory bounded by
    * [[CkptRowGroupBytes]], never the whole state), read STREAMING
    * (one row at a time, heap bounded by the in-memory manifest being
    * built, no text blob), splittable (many row groups), and readable
    * DISTRIBUTED by any stock parquet reader — `spark.read.parquet` on
    * the checkpoint path works as-is for offline inspection.
    *
    * Blooms stay sidecar REFERENCES only (the sidecars are immutable;
    * a checkpoint never re-serializes a bloom). Blooms still inline in
    * the state (an old-format base that no commit migrated yet) move
    * to a fresh sidecar first, so a checkpoint is always fully
    * ref-backed. Atomic via tmp + move; idempotent (same state → same
    * content). */
  private[graft] def writeCheckpoint(root: Path, m: Manifest): Unit = {
    val missing = (m.blooms.keySet -- m.bloomRefs.keySet).toSeq.sorted
    val refs =
      if (missing.isEmpty) m.bloomRefs
      else {
        val s = writeBloomSidecar(root,
          missing.map(f => f -> m.blooms(f)).toMap)
        m.bloomRefs ++ missing.map(_ -> s)
      }
    val tmp = root.resolve(LogDir)
      .resolve(s".ckpt-tmp-${java.util.UUID.randomUUID()}.parquet")
    try {
      writeCheckpointParquet(tmp, m, refs)
      Files.move(tmp, ckptParquetPath(root, m.version),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    } catch {
      case e: Exception =>
        Files.deleteIfExists(tmp): Unit
        // a concurrent identical write is fine (checkpoints of one
        // version are byte-identical); anything else must surface —
        // vacuum's retention-boundary write in particular MUST land
        // before expired deltas delete, or retained versions lose
        // their replay path (publish wraps its own best-effort arm)
        if (!hasCkpt(root, m.version))
          throw new IllegalStateException(
            s"failed to write checkpoint v${m.version} under $root", e)
    }
  }

  /** Row-group flush threshold for fmt-3 checkpoints: small enough
    * that a large-file-count table produces MANY row groups (the
    * splittability the format exists for; ~10k entry rows each at
    * ~100 B), large enough that page/dictionary overhead stays noise. */
  private[graft] val CkptRowGroupBytes: Long = 1L << 20

  /** Footer key under which the checkpoint's O(columns) header JSON
    * lives (fmt, version, op, schema, small meta, changeDir). */
  private val CkptHeaderKey = "graft.header"

  /** Entry-row kinds: a file of the snapshot (in LIST ORDER, carrying
    * its bloom ref), one column's stats, and the lossless escape for a
    * bloom ref whose file is absent from the list (never produced by
    * the commit paths; kept so fmt 3 round-trips ANY manifest the old
    * format could). */
  private val KindFile = 0
  private val KindStat = 1
  private val KindOrphanRef = 2

  private lazy val CkptSchema: org.apache.parquet.schema.MessageType = {
    import org.apache.parquet.schema.{LogicalTypeAnnotation, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    Types.buildMessage()
      .required(INT32).named("kind")
      .required(BINARY).as(LogicalTypeAnnotation.stringType()).named("file")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("col")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("min")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType()).named("max")
      .optional(INT64).named("nulls")
      .optional(INT64).named("rows")
      .optional(BINARY).as(LogicalTypeAnnotation.stringType())
      .named("bloom_ref")
      .named("graft_ckpt")
  }

  /** A Hadoop conf whose `file:` scheme skips CRC side-files — the
    * checkpoint moves after writing, which would orphan the `.crc`
    * into `_txlog/` debris. */
  private def rawLocalConf(): Configuration = {
    val c = new Configuration()
    c.set("fs.file.impl", "org.apache.hadoop.fs.RawLocalFileSystem")
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  private def writeCheckpointParquet(target: Path, m: Manifest,
      refs: Map[String, String]): Unit = {
    val mapper = new Mapper()
    val node = mapper.createObjectNode()
    node.put("fmt", 3)
    node.put("version", m.version)
    node.put("op", m.op)
    node.put("schema", m.schemaJson): Unit
    putSmallMeta(node, m)
    m.changeDir.foreach(d => node.put("changeDir", d): Unit)
    val factory =
      new org.apache.parquet.example.data.simple.SimpleGroupFactory(
        CkptSchema)
    val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter
      .builder(org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(
        new org.apache.hadoop.fs.Path(target.toString), rawLocalConf()))
      .withType(CkptSchema)
      .withConf(rawLocalConf())
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .withRowGroupSize(CkptRowGroupBytes)
      .withExtraMetaData(
        java.util.Collections.singletonMap(CkptHeaderKey,
          mapper.writeValueAsString(node)))
      .build()
    def writeStats(f: String,
        cols: Map[String, TxStats.ColStat]): Unit =
      cols.toSeq.sortBy(_._1).foreach { case (c, cs) =>
        val g = factory.newGroup()
          .append("kind", KindStat).append("file", f).append("col", c)
          .append("min", cs.min).append("max", cs.max)
        if (cs.nulls >= 0L) g.append("nulls", cs.nulls): Unit
        if (cs.rows >= 0L) g.append("rows", cs.rows): Unit
        writer.write(g)
      }
    try {
      val fileSet = m.files.toSet
      m.files.foreach { f =>
        val g = factory.newGroup()
          .append("kind", KindFile).append("file", f)
        refs.get(f).foreach(r => g.append("bloom_ref", r): Unit)
        writer.write(g)
        m.stats.get(f).foreach(writeStats(f, _))
      }
      (m.stats.keySet -- fileSet).toSeq.sorted.foreach(f =>
        writeStats(f, m.stats(f)))
      (refs.keySet -- fileSet).toSeq.sorted.foreach { f =>
        writer.write(factory.newGroup()
          .append("kind", KindOrphanRef).append("file", f)
          .append("bloom_ref", refs(f)))
      }
    } finally writer.close()
  }

  /** Force-materialize a checkpoint at the LATEST version — the
    * `CALL system.checkpoint('db.t')` repair for a log whose periodic
    * checkpoint writes failed (publish warns but never blocks commits,
    * so a string of failures silently stretches every snapshot load's
    * delta replay; see [[logSummary]] for the staleness signal). Lite
    * state is enough: a checkpoint persists bloom REFERENCES. Idempotent
    * — an existing checkpoint is kept. Returns the checkpointed
    * version. */
  def checkpoint(tableDir: String): Long = {
    val root = Paths.get(tableDir)
    val v = headVersion(tableDir)
    if (!hasCkpt(root, v))
      writeCheckpoint(root, readManifestLite(root, v))
    v
  }

  /** Log health at a glance (the `t$log` metadata table): latest
    * version, the newest checkpointed version (None = no checkpoint
    * yet), and `replayDeltas` — how many fmt-2 deltas a cold snapshot
    * load of the HEAD replays on top of its nearest base (0 = the head
    * itself is a base). The operator signal for checkpoint staleness:
    * a value far above `tx.checkpointInterval` means checkpoint writes
    * are failing and `CALL system.checkpoint` is due. O(replay length)
    * stat calls + at most that many 1-file JSON parses, no data IO. */
  final case class LogSummary(latestVersion: Long,
                              checkpointVersion: Option[Long],
                              replayDeltas: Long)

  def logSummary(tableDir: String): LogSummary = {
    val root = Paths.get(tableDir)
    val latest = headVersion(tableDir)
    val ckpt = listNames(root.resolve(LogDir))
      .collect { case CkptName(v) if hasCkpt(root, v) => v }
      .filter(_ <= latest).sorted.lastOption
    // base = nearest self-contained state at-or-below latest: its own
    // checkpoint, an old-format full manifest, or v1
    var k = latest
    var base = -1L
    val mapper = new Mapper()
    while (base < 0) {
      if (k == 1L || hasCkpt(root, k)) base = k
      else {
        val kp = manifestPath(root, k)
        if (!Files.exists(kp)) base = k // vacuumed below: bounded there
        else if (mapper.readTree(Files.readAllBytes(kp)).get("fmt") == null)
          base = k
        else k -= 1
      }
    }
    LogSummary(latest, ckpt, latest - base)
  }

  /** Read a checkpoint: full state with `bloomRefs` set and `blooms`
    * EMPTY — the caller (replay) materializes blooms from the final
    * reference set, so each sidecar is read at most once per load.
    * Dispatches on what exists: fmt-3 parquet (streamed, bounded heap)
    * preferred, legacy fmt-2 monolithic JSON readable forever. */
  private[graft] def readCheckpoint(root: Path, v: Long): Manifest =
    if (Files.isRegularFile(ckptParquetPath(root, v)))
      readCheckpointParquet(root, v)
    else readCheckpointJson(root, v)

  private def readCheckpointJson(root: Path, v: Long): Manifest = {
    val node = new Mapper().readTree(Files.readAllBytes(ckptPath(root, v)))
    Manifest(v, node.get("op").asText(), node.get("schema").asText(),
      getStringArray(node, "files"), getTxns(node),
      getStats(node, "stats"), Map.empty,
      getStringArray(node, "partitionBy"),
      getStringMap(node, "constraints"), getStringArray(node, "dvDirs"),
      getStringMap(node, "properties"),
      getStringMap(node, "columnMapping"),
      getStringMap(node, "bloomRefs"),
      Option(node.get("changeDir")).map(_.asText()),
      getStringMap(node, "partitionTransforms"))
  }

  /** Stream the fmt-3 parquet checkpoint back into a [[Manifest]] from
    * ONE file open: the header JSON comes from the footer's key-value
    * metadata (one small parse, O(columns)), then the SAME
    * ParquetFileReader streams entry rows row-group by row-group
    * through a record reader — heap is bounded by the manifest being
    * built plus one row group's pages, never a whole-file text blob
    * (and on object storage the cold load pays one open+footer round
    * trip, not two). */
  private def readCheckpointParquet(root: Path, v: Long): Manifest = {
    val hp = new org.apache.hadoop.fs.Path(
      ckptParquetPath(root, v).toString)
    val pf = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        hp, rawLocalConf()))
    val files = Seq.newBuilder[String]
    val stats = scala.collection.mutable.HashMap
      .empty[String, scala.collection.mutable.HashMap[String,
        TxStats.ColStat]]
    val refs = Map.newBuilder[String, String]
    val node =
      try {
        val headerStr = pf.getFooter.getFileMetaData.getKeyValueMetaData
          .get(CkptHeaderKey)
        require(headerStr != null,
          s"checkpoint v$v of $root lacks the $CkptHeaderKey footer " +
            "entry — not a graft checkpoint?")
        val parsed = new Mapper().readTree(headerStr)
        require(parsed.get("version").asLong() == v,
          s"checkpoint v$v of $root claims version " +
            s"${parsed.get("version").asLong()} in its header")
        val fileSchema = pf.getFooter.getFileMetaData.getSchema
        val colIO = new org.apache.parquet.io.ColumnIOFactory()
          .getColumnIO(fileSchema)
        var pages = pf.readNextRowGroup()
        while (pages != null) {
          val recordReader = colIO.getRecordReader(pages,
            new org.apache.parquet.example.data.simple.convert
              .GroupRecordConverter(fileSchema))
          var i = 0L
          val n = pages.getRowCount
          while (i < n) {
            val g = recordReader.read()
            val f = g.getString("file", 0)
            g.getInteger("kind", 0) match {
              case KindFile =>
                files += f
                if (g.getFieldRepetitionCount("bloom_ref") > 0)
                  refs += f -> g.getString("bloom_ref", 0)
              case KindStat =>
                val nulls = if (g.getFieldRepetitionCount("nulls") > 0)
                  g.getLong("nulls", 0) else -1L
                val rows = if (g.getFieldRepetitionCount("rows") > 0)
                  g.getLong("rows", 0) else -1L
                stats.getOrElseUpdate(f,
                    scala.collection.mutable.HashMap.empty)
                  .update(g.getString("col", 0),
                    TxStats.ColStat(g.getString("min", 0),
                      g.getString("max", 0), nulls, rows))
              case KindOrphanRef =>
                refs += f -> g.getString("bloom_ref", 0)
              case other => throw new IllegalStateException(
                s"checkpoint v$v of $root: unknown entry kind $other " +
                  "(written by a newer engine?)")
            }
            i += 1
          }
          pages = pf.readNextRowGroup()
        }
        parsed
      } finally pf.close()
    Manifest(v, node.get("op").asText(), node.get("schema").asText(),
      files.result(), getTxns(node),
      stats.view.mapValues(_.toMap).toMap, Map.empty,
      getStringArray(node, "partitionBy"),
      getStringMap(node, "constraints"), getStringArray(node, "dvDirs"),
      getStringMap(node, "properties"),
      getStringMap(node, "columnMapping"),
      refs.result(),
      Option(node.get("changeDir")).map(_.asText()),
      getStringMap(node, "partitionTransforms"))
  }

  /** A version's `op` alone — one JSON parse, no replay (both file
    * formats carry it at the top level); what [[history]] iterates. */
  private def readOp(root: Path, v: Long): String =
    new Mapper().readTree(Files.readAllBytes(manifestPath(root, v)))
      .get("op").asText()

  /** Serialize the commit as an INCREMENTAL delta against `prev` and
    * hand it to the [[CommitPrimitive]] — the primitive's
    * exclusive-create is the commit point: it either publishes a
    * complete delta or fails because the version exists. Written
    * metadata is O(changed files): added/removed file names, stats for
    * files whose stats changed (new files; a widen's stat rewrite; an
    * evolve's scrub), and ONE content-addressed sidecar for new/changed
    * blooms — carried files ride as the absence of actions. The diff is
    * computed against the caller's already-loaded `prev` state (every
    * commit path reads it anyway), so the only O(live files) work left
    * is in-memory compares with reference-equality fast paths — never
    * serialization or IO. After a won publish, every
    * `tx.checkpointInterval`-th version also materializes a checkpoint
    * (best-effort for the log — the log is already complete without it
    * — but LOUD on stderr: a string of silently-failed checkpoints
    * degrades every snapshot load toward O(history) replay, and the
    * operator repair is `CALL system.checkpoint`).
    *
    * BLOOM-BLIND CONTRACT (what keeps commits O(changed files) even on
    * bloom-indexed tables): publish decides sidecar placement from FILE
    * IDENTITY, never from bloom bytes, so `prev` may be a LITE
    * ([[readManifestLite]]) state whose carried blooms exist only as
    * `bloomRefs`. A file's blooms land in THIS commit's sidecar iff the
    * manifest carries them in `m.blooms` AND the file is new to the
    * snapshot (`prev.bloomRefs` has no entry — which also migrates
    * inline old-format blooms exactly once), OR the caller declared it
    * in `bloomRewrites` (the evolve column scrub — the ONE op that
    * changes a carried file's blooms in place; a rewrite whose result
    * is bloom-free is recorded as a drop). Every other carried file's
    * sidecar reference rides forward untouched. A caller that mutates a
    * carried file's blooms WITHOUT declaring it publishes a stale
    * reference — declare or re-stage. */
  private def publish(root: Path, m: Manifest, prev: Option[Manifest],
                      primitive: CommitPrimitive,
                      bloomRewrites: Set[String] = Set.empty): Unit = {
    prev.foreach(p => require(p.version == m.version - 1,
      s"publish of v${m.version} got prev state v${p.version} — the " +
        "caller must hand the immediately-previous log state"))
    require(prev.nonEmpty || m.version == 1L,
      s"publish of v${m.version} without the previous state")
    val mapper = new Mapper()
    val node = mapper.createObjectNode()
    node.put("fmt", 2)
    node.put("version", m.version)
    node.put("op", m.op)
    node.put("schema", m.schemaJson): Unit
    putSmallMeta(node, m)
    m.changeDir.foreach(d => node.put("changeDir", d): Unit)
    val prevFiles = prev.map(_.files).getOrElse(Seq.empty)
    val prevSet = prevFiles.toSet
    val mSet = m.files.toSet
    val add = m.files.filterNot(prevSet)
    val remove = prevFiles.filterNot(mSet)
    putStringArray(node, "add", add)
    putStringArray(node, "remove", remove)
    val prevStats = prev.map(_.stats).getOrElse(
      Map.empty[String, Map[String, TxStats.ColStat]])
    val statUpserts = m.files.filter { f =>
      m.stats.getOrElse(f, Map.empty) != prevStats.getOrElse(f, Map.empty)
    }
    putStats(node, "stats",
      statUpserts.map(f => f -> m.stats.getOrElse(f,
        Map.empty[String, TxStats.ColStat])).toMap)
    val prevBlooms = prev.map(_.blooms).getOrElse(
      Map.empty[String, Map[String, TxStats.FileBloom]])
    val prevRefs = prev.map(_.bloomRefs).getOrElse(Map.empty[String, String])
    // FILE-IDENTITY sidecar decision (scaladoc: the bloom-blind
    // contract): new-to-the-snapshot or declared-rewritten blooms go to
    // this commit's sidecar; everything else carries by reference —
    // zero bloom bytes read or compared here
    val needSidecar = m.files.filter(f =>
      m.blooms.contains(f) && (bloomRewrites(f) || !prevRefs.contains(f)))
    // a declared rewrite whose result is bloom-free, or an inline
    // (old-format / materialized) bloom the caller scrubbed, is a DROP
    val bloomDrop = m.files.filter(f =>
      !m.blooms.contains(f) &&
        (prevBlooms.contains(f) ||
          (bloomRewrites(f) && prevRefs.contains(f))))
    putStringArray(node, "bloomDrop", bloomDrop)
    val sidecar: Option[String] =
      if (needSidecar.isEmpty) None
      else Some(writeBloomSidecar(root,
        needSidecar.map(f => f -> m.blooms(f)).toMap))
    sidecar.foreach { s =>
      node.put("bloomRef", s): Unit
      putStringArray(node, "bloomRefFiles", needSidecar)
    }
    primitive.publishExclusive(manifestPath(root, m.version),
      mapper.writeValueAsBytes(node))
    val interval = m.properties.get(CheckpointIntervalProperty)
      .flatMap(_.toIntOption).getOrElse(DefaultCheckpointInterval)
    if (m.version % interval == 0) {
      val needSet = needSidecar.toSet
      val dropSet = bloomDrop.toSet
      val carried = prevRefs.filter { case (f, _) =>
        mSet(f) && !needSet(f) && !dropSet(f) }
      val refs = carried ++
        sidecar.toSeq.flatMap(s => needSidecar.map(_ -> s))
      try writeCheckpoint(root, m.copy(bloomRefs = refs))
      catch {
        case e: Exception =>
          // the log is complete without the checkpoint, so the commit
          // stands — but say so LOUDLY: repeated failures degrade every
          // snapshot load toward long delta replays, and the repair is
          // one CALL system.checkpoint('db.t') away
          System.err.println(
            s"graft-tx WARNING: checkpoint write at v${m.version} of " +
              s"$root failed (${e.getClass.getSimpleName}: " +
              s"${e.getMessage}); snapshot loads will replay deltas " +
              s"from the previous checkpoint until one succeeds — " +
              "run CALL <cat>.system.checkpoint('<db.table>') to repair")
      }
    }
  }

  private[sources] def decodeBloom(
      node: com.fasterxml.jackson.databind.JsonNode): TxStats.FileBloom = {
    val bytes = java.util.Base64.getDecoder.decode(node.get("b64").asText())
    val buf = java.nio.ByteBuffer.wrap(bytes)
    buf.order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val words = new Array[Long](bytes.length / 8)
    var i = 0
    while (i < words.length) { words(i) = buf.getLong(); i += 1 }
    TxStats.FileBloom(words, node.get("k").asInt(),
      node.get("str").asBoolean())
  }

  /** Load the FULL state at version `v`: the version's own file, plus —
    * for fmt-2 deltas — a walk DOWN the log to the nearest base (a
    * checkpoint, an old-format full manifest, or v1 itself, which is
    * self-contained by construction), then a forward replay of the
    * delta tail. Load cost: one base read + at most
    * `tx.checkpointInterval` delta reads + one read per referenced
    * bloom sidecar — bounded, never a full-history replay. The returned
    * version is the REQUESTED one (log file names are the authority;
    * a corrupted body cannot lie about its own version). */
  private[graft] def readManifest(root: Path, v: Long): Manifest =
    readManifest(root, v, withBlooms = true)

  /** `withBlooms = false` skips the bloom-sidecar materialization — the
    * version-walking consumers (the CDF stream and batch changes, which
    * read one manifest PER VERSION of a range) never consume blooms,
    * and at scale the sidecar reads would dominate their planning cost
    * for nothing. The returned state still carries `bloomRefs`, so it
    * must never feed a publish or a skip decision. */
  private[graft] def readManifestLite(root: Path, v: Long): Manifest =
    readManifest(root, v, withBlooms = false)

  private def readManifest(root: Path, v: Long,
                           withBlooms: Boolean): Manifest = {
    val p = manifestPath(root, v)
    require(Files.exists(p), s"version $v does not exist under $root")
    val mapper = new Mapper()
    val node = mapper.readTree(Files.readAllBytes(p))
    if (node.get("fmt") == null) return parseFull(node).copy(version = v)
    // fast path: the version has its own checkpoint
    if (hasCkpt(root, v)) {
      val c = readCheckpoint(root, v)
      return if (withBlooms) materializeBlooms(root, c) else c
    }
    var deltas = List(parseDelta(node))
    var base: Option[Manifest] = None
    var k = v - 1
    while (k >= 1 && base.isEmpty) {
      if (hasCkpt(root, k))
        base = Some(readCheckpoint(root, k))
      else {
        val kp = manifestPath(root, k)
        require(Files.exists(kp),
          s"cannot reconstruct version $v of $root: delta v$k is " +
            "missing and no checkpoint covers the gap")
        val kn = mapper.readTree(Files.readAllBytes(kp))
        if (kn.get("fmt") == null) base = Some(parseFull(kn).copy(version = k))
        else { deltas = parseDelta(kn) :: deltas; k -= 1 }
      }
    }
    // replay the tail onto the base
    var files = base.map(_.files).getOrElse(Seq.empty)
    var stats = base.map(_.stats).getOrElse(
      Map.empty[String, Map[String, TxStats.ColStat]])
    var refs = base.map(_.bloomRefs).getOrElse(Map.empty[String, String])
    // blooms inline in an old-format base (a checkpoint base is fully
    // ref-backed and reads back with blooms empty)
    var inline = base.map(m => m.blooms -- m.bloomRefs.keySet).getOrElse(
      Map.empty[String, Map[String, TxStats.FileBloom]])
    var last: LogDelta = null
    deltas.foreach { d =>
      last = d
      val removeSet = d.remove.toSet
      val kept = files.filterNot(removeSet)
      val keptSet = kept.toSet
      files = kept ++ d.add.filterNot(keptSet)
      stats = (stats -- d.remove) ++ d.statUpserts
      inline = inline -- d.remove -- d.bloomDrop -- d.bloomRefFiles
      refs = (refs -- d.remove -- d.bloomDrop) ++
        d.bloomRef.toSeq.flatMap(r => d.bloomRefFiles.map(_ -> r))
    }
    val m = Manifest(v, last.op, last.schemaJson, files, last.txns, stats,
      inline, last.partitionColumns, last.constraints, last.dvDirs,
      last.properties, last.columnMapping, refs, last.changeDir,
      last.partitionTransforms)
    if (withBlooms) materializeBlooms(root, m) else m
  }

  /** Resolve `bloomRefs` into in-memory blooms (each referenced sidecar
    * read exactly once), merged over whatever inline blooms the state
    * already carries. A referenced sidecar missing an expected file
    * entry is corruption and fails loudly — a silent miss would merely
    * weaken skipping, which is exactly how bugs hide. */
  /** `wanted` restricts the load to the sidecars those files reference
    * — what the row-level rebase's overlap check and restore use to
    * price a HANDFUL of files without paying the whole table's bloom
    * bytes on the commit path. */
  private def materializeBlooms(root: Path, m: Manifest,
      wanted: String => Boolean = _ => true): Manifest = {
    val refs = m.bloomRefs.filter { case (f, _) => wanted(f) }
    if (refs.isEmpty) return m
    val loaded = refs.toSeq.groupBy(_._2).toSeq.flatMap {
      case (rel, fs) =>
        val content = readBloomSidecar(root, rel)
        fs.map { case (f, _) =>
          f -> content.getOrElse(f, throw new IllegalStateException(
            s"bloom sidecar $rel of $root lacks an entry for $f"))
        }
    }.toMap
    m.copy(blooms = m.blooms ++ loaded)
  }
}
