package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsNamespaces, SupportsRead, SupportsWrite, Table, TableCapability, TableCatalog, TableChange}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetTable
import org.apache.spark.sql.sources.InsertableRelation
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DSv2 `TableCatalog` over [[TxTable]] — the engine's own table format
  * made SQL-addressable, the way the reference resolves `(db,
  * collection)` names (No_Sql.py:389-390) but against a transactional
  * parquet table instead of Mongo:
  *
  * {{{
  *   spark.conf: spark.sql.catalog.graft      = graft.sources.TxCatalog
  *               spark.sql.catalog.graft.root = /warehouse
  *   SELECT * FROM graft.db.t                     -- latest snapshot
  *   SELECT * FROM graft.db.t VERSION AS OF 2     -- time travel
  *   SELECT * FROM graft.db.t TIMESTAMP AS OF ... -- commit-time travel
  * }}}
  *
  * Name resolution is directory layout: identifier `db.t` is the
  * tx table at `<root>/db/t` (any namespace depth, one directory per
  * level); a table EXISTS iff its `_txlog/` holds a committed version.
  * `VERSION AS OF n` goes through the DSv2 time-travel hook
  * (`loadTable(ident, version)`), `TIMESTAMP AS OF ts` resolves to the
  * newest version whose manifest was PUBLISHED at or before `ts` —
  * publish time (the manifest file's mtime, set by the atomic
  * [[CommitPrimitive]] publish) is the only clock a commit has.
  *
  * Scans delegate to Spark's own parquet DSv2 table over the manifest's
  * resolved file list, so column pruning, filter pushdown, and
  * vectorized reading are exactly the stock parquet path — the catalog
  * adds snapshot resolution, never a bespoke reader. Writes never
  * bypass the commit protocol: `CREATE TABLE` commits version 1 (empty
  * snapshot of the declared schema) and `INSERT INTO` / `INSERT
  * OVERWRITE` route through Spark's V1 write bridge into
  * [[TxTable.commit]] — the same atomic OCC publish, schema check, and
  * loud conflict failure the Scala API gets ([[TxSqlTable]] scaladoc).
  * ALTER/DROP/RENAME stay refused loudly: schema evolution is a new
  * commit, retention is [[TxTable.vacuum]]'s job.
  */
class TxCatalog extends TableCatalog with SupportsNamespaces
  with org.apache.spark.sql.connector.catalog.ProcedureCatalog
  with org.apache.spark.sql.connector.catalog.StagingTableCatalog
  with org.apache.spark.sql.connector.catalog.FunctionCatalog {

  private var catalogName: String = _
  private var root: Path = _

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    val r = options.get("root")
    require(r != null && r.nonEmpty,
      s"TxCatalog '$name' needs spark.sql.catalog.$name.root=<warehouse dir>")
    root = Paths.get(r)
  }

  override def name(): String = catalogName

  /** Path for an identifier, with each part validated as a plain
    * directory name — a name carrying a separator or `..` would escape
    * the warehouse root (a lookup must never be a path traversal).
    * '$' is rejected too: the `t$history`/`t$files`/`t$stats` suffixes
    * are a RESERVED metadata-table namespace, and a real table named
    * with a '$' could be created but never read back (resolution would
    * intercept it as a metadata lookup) — orphaning committed data
    * silently, so creation refuses loudly instead. */
  private def dirFor(ident: Identifier): Path = {
    val parts = ident.namespace().toSeq :+ ident.name()
    parts.foreach(p => require(
      p.nonEmpty && !p.contains('/') && !p.contains('\\') &&
        !p.contains('$') && p != "." && p != "..",
      s"illegal identifier part '$p' in ${parts.mkString(".")} — " +
        "'$' is reserved for metadata tables (t$history/t$files/t$stats)"))
    parts.foldLeft(root)(_.resolve(_))
  }

  private def isTxTable(dir: Path): Boolean =
    TxTable.latestVersion(dir.toString).isDefined

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val ns = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(ns)) throw new NoSuchNamespaceException(namespace)
    listDirs(ns).filter(d => isTxTable(ns.resolve(d)))
      .map(d => Identifier.of(namespace, d)).toArray
  }

  /** Existence mirrors [[loadTable]]'s resolution, including the `$`
    * metadata namespace: `t$history` exists iff `t` does, and any OTHER
    * '$'-bearing name is simply absent (false, so `DROP TABLE IF
    * EXISTS`/`EXISTS` probes answer cleanly) — the hard '$' rejection
    * stays on the create/namespace paths where it guards real data. */
  override def tableExists(ident: Identifier): Boolean =
    ident.name().split('$') match {
      case Array(base, "history" | "files" | "stats" | "constraints" |
          "dv" | "partitions" | "log" | "refs") if base.nonEmpty =>
        isTxTable(dirFor(Identifier.of(ident.namespace(), base)))
      case _ if ident.name().contains('$') ||
        ident.namespace().exists(_.contains('$')) => false
      case _ => isTxTable(dirFor(ident))
    }

  override def loadTable(ident: Identifier): Table = {
    // Iceberg-style metadata tables: `t$history` / `t$files` expose the
    // manifest log itself to SQL — O(versions)/O(files) driver metadata
    // served through a LocalScan, never a distributed job
    ident.name().split('$') match {
      case Array(base, kind @ ("history" | "files" | "stats" |
          "constraints" | "dv" | "partitions" | "log" | "refs"))
          if base.nonEmpty =>
        val dir = dirFor(Identifier.of(ident.namespace(), base))
        if (!isTxTable(dir)) throw new NoSuchTableException(ident)
        return TxMetaTables.table(fullName(ident), dir, kind)
      case _ => ()
    }
    val dir = dirFor(ident)
    val v = TxTable.latestVersion(dir.toString)
      .getOrElse(throw new NoSuchTableException(ident))
    // only the LATEST load is writable: a commit always produces the
    // next version regardless of which snapshot was loaded, so offering
    // a write surface on a time-travel handle would be a lie
    new TxSqlTable(fullName(ident), dir, v, writable = true)
  }

  /** `VERSION AS OF <v>` — the DSv2 time-travel hook. */
  override def loadTable(ident: Identifier, version: String): Table = {
    val dir = dirFor(ident)
    if (!isTxTable(dir)) throw new NoSuchTableException(ident)
    // an integer travels to that version; anything else resolves as a
    // TAG name (r20 — `VERSION AS OF 'release-1'`, the Iceberg ref
    // surface), loudly when no such tag exists
    val v = version.toLongOption.getOrElse(
      TxTable.tags(dir.toString).getOrElse(version,
        throw new IllegalArgumentException(
          s"'$version' is neither a version number nor a tag of " +
            s"${fullName(ident)} (tags: ${TxTable.tags(dir.toString)
              .keys.toSeq.sorted.mkString(", ")})")))
    // one stat call on the happy path; the O(versions) name listing only
    // runs to compose the failure message
    require(TxTable.versionExists(dir.toString, v),
      s"version $v of ${fullName(ident)} does not exist (or was vacuumed); " +
        s"committed: ${TxTable.versions(dir.toString).mkString(", ")}")
    new TxSqlTable(fullName(ident), dir, v)
  }

  /** `TIMESTAMP AS OF <ts>` (micros since epoch): newest version whose
    * manifest publish time is at or before the asked instant. */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table = {
    val dir = dirFor(ident)
    if (!isTxTable(dir)) throw new NoSuchTableException(ident)
    val log = dir.resolve("_txlog")
    // versions() lists log-dir names only — no manifest parse per
    // version just to read each file's mtime. A manifest that vanishes
    // between the listing and the mtime stat was expired by a CONCURRENT
    // vacuum (readers racing vacuum is a normal scenario) — it is older
    // than any retained candidate, so skipping it is the clean
    // resolution, not an error to surface.
    val admissible = TxTable.versions(dir.toString).filter { v =>
      try Files.getLastModifiedTime(
        log.resolve(f"v$v%05d.json")).toMillis * 1000L <= timestampMicros
      catch { case _: java.nio.file.NoSuchFileException => false }
    }
    require(admissible.nonEmpty,
      s"no version of ${fullName(ident)} committed at or before " +
        s"timestamp $timestampMicros")
    new TxSqlTable(fullName(ident), dir, admissible.max)
  }

  /** CREATE TABLE commits version 1 as an empty snapshot of the declared
    * schema through the same OCC publish every write uses — a racing
    * CREATE of the same name loses on the version-1 manifest and
    * surfaces as already-exists. `PARTITIONED BY` accepts identity
    * columns AND the hidden-partitioning transforms `bucket(n, col)`,
    * the full time-grain family `years(ts)`/`months(ts)`/`days(ts)`/
    * `hours(ts)`, and `truncate(n, col)` over strings/ints/longs
    * ([[TxTransforms]] scaladoc): derived values land in file paths +
    * min=max stats entries, the source column stays in file bytes,
    * every INSERT inherits the spec, predicates on the source prune
    * through the projected derived filters, and bucket layouts report
    * KeyGroupedPartitioning for storage-partitioned joins. Unsupported
    * transforms (arbitrary expressions) refuse loudly rather than
    * being silently ignored. */
  override def createTable(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String]): Table = {
    val partSpec = TxTransforms.fromV2(partitions.toSeq)
    // CHECK constraints at CREATE: TBLPROPERTIES ('check.<name>' =
    // '<boolean sql expr>') — registered in the v1 manifest, enforced
    // on every subsequent write (TxTable.commit scaladoc)
    val checks = properties.asScala.collect {
      case (k, v) if k.startsWith("check.") && k.length > 6 =>
        k.stripPrefix("check.") -> v
    }.toMap
    // engine properties ('tx.*', e.g. tx.deletionVectors) land in the
    // v1 manifest and carry forward like constraints; unknown tx.*
    // keys refuse inside commit (validateProperties)
    val txProps = properties.asScala.filter(_._1.startsWith("tx.")).toMap
    val dir = dirFor(ident)
    if (isTxTable(dir)) throw new TableAlreadyExistsException(ident)
    val spark = SparkSession.active
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    // requireVersion = 1 closes the check-then-commit window: a writer
    // publishing v1 between our existence check and this commit makes
    // the commit REFUSE (not publish an empty v2 overwrite that would
    // silently truncate their data), and the v1 publish itself is
    // create-exclusive — either way the race surfaces as already-exists
    try TxTable.commit(empty, dir.toString, "overwrite",
      opLabel = Some("create"), requireVersion = Some(1L),
      partitionSpec = Some(partSpec), constraints = checks,
      properties = txProps)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new TableAlreadyExistsException(ident)
    }
    new TxSqlTable(fullName(ident), dir, 1L, writable = true)
  }

  // -------------------------------------- atomic CTAS / RTAS staging

  /** `CREATE TABLE ... AS SELECT` lands ATOMICALLY: the query's output
    * stages as unpublished files (no manifest references them — a
    * reader can never see a half-written table), and only
    * `commitStagedChanges` publishes version 1 through the same
    * create-exclusive OCC race CREATE uses; a failed query aborts by
    * reclaiming the staged files, leaving no table behind. `REPLACE
    * TABLE ... AS SELECT` publishes `latest+1` as an overwrite — the
    * old content stays time-travelable like any overwrite. */
  override def stageCreate(ident: Identifier, schema: StructType,
                           partitions: Array[Transform],
                           properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    require(partitions.isEmpty,
      "TxCatalog tables are not hive-partitioned — stage without " +
        "PARTITIONED BY")
    val dir = dirFor(ident)
    if (isTxTable(dir)) throw new TableAlreadyExistsException(ident)
    new StagedTxTable(fullName(ident), dir, schema,
      mode = StagedTxTable.Create)
  }

  override def stageReplace(ident: Identifier, schema: StructType,
                            partitions: Array[Transform],
                            properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    require(partitions.isEmpty,
      "TxCatalog tables are not hive-partitioned — stage without " +
        "PARTITIONED BY")
    val dir = dirFor(ident)
    if (!isTxTable(dir)) throw new NoSuchTableException(ident)
    new StagedTxTable(fullName(ident), dir, schema,
      mode = StagedTxTable.Replace)
  }

  override def stageCreateOrReplace(ident: Identifier, schema: StructType,
                                    partitions: Array[Transform],
                                    properties: util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.StagedTable = {
    require(partitions.isEmpty,
      "TxCatalog tables are not hive-partitioned — stage without " +
        "PARTITIONED BY")
    // create-vs-replace is decided at COMMIT time, not here: a racing
    // writer creating the table mid-query must make CREATE OR REPLACE
    // replace (its contract), not fail a stage-time snapshot decision
    new StagedTxTable(fullName(ident), dirFor(ident), schema,
      mode = StagedTxTable.CreateOrReplace)
  }

  /** ALTER TABLE, scoped to the tx-table metadata that IS an in-place
    * edit — everything else is loudly rejected.
    *
    * CHECK constraints as `check.<name>` table properties:
    * `SET TBLPROPERTIES ('check.x' = '<expr>')` adds (validating the
    * EXISTING snapshot first — the [[TxTable.addConstraint]] contract)
    * and `UNSET TBLPROPERTIES ('check.x')` withdraws; one statement
    * with several properties commits ONE metadata version,
    * all-or-nothing ([[TxTable.alterConstraints]]).
    *
    * Metadata-only schema evolution: `ADD COLUMN` (nullable, appended
    * — old files read NULL) and `DROP COLUMN` (files keep the bytes,
    * the schema stops projecting them), one atomic `evolve` version
    * per statement ([[TxTable.evolveColumns]] — no data moves, the
    * O(1) operation a 100 TB table demands). `RENAME COLUMN` commits
    * one `rename` version through the column mapping
    * ([[TxTable.renameColumn]] — files keep their bytes, stats keep
    * their keys, skipping survives). Column positions, defaults, and
    * type changes refuse: the first two need a rewrite-or-default
    * story and the last type-widening id mapping, which a by-name
    * parquet layout cannot honor honestly. One statement carries ONE
    * kind of change — each kind is its own atomic manifest version,
    * and a mixed statement could half-apply. */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val dir = dirFor(ident)
    if (!isTxTable(dir)) throw new NoSuchTableException(ident)
    val addP = Map.newBuilder[String, String]
    val dropP = Set.newBuilder[String]
    val setT = Map.newBuilder[String, String]
    val unsetT = Set.newBuilder[String]
    val addC = Seq.newBuilder[org.apache.spark.sql.types.StructField]
    val dropC = Seq.newBuilder[String]
    val renameC = Seq.newBuilder[(String, String)]
    val widenC = Seq.newBuilder[(String, org.apache.spark.sql.types.DataType)]
    changes.foreach {
      case sp: TableChange.SetProperty
          if sp.property.startsWith("check.") && sp.property.length > 6 =>
        addP += sp.property.stripPrefix("check.") -> sp.value
      case rp: TableChange.RemoveProperty
          if rp.property.startsWith("check.") && rp.property.length > 6 =>
        dropP += rp.property.stripPrefix("check.")
      case sp: TableChange.SetProperty if sp.property.startsWith("tx.") =>
        setT += sp.property -> sp.value
      case rp: TableChange.RemoveProperty if rp.property.startsWith("tx.") =>
        unsetT += rp.property
      case ac: TableChange.AddColumn =>
        require(ac.fieldNames.length == 1,
          s"ADD COLUMN supports top-level columns only, not " +
            ac.fieldNames.mkString("."))
        require(ac.position == null,
          "ADD COLUMN FIRST/AFTER is not supported — columns append " +
            "(reads are by name; order is presentation)")
        require(ac.defaultValue == null,
          "ADD COLUMN DEFAULT is not supported — existing rows read " +
            "NULL; backfill with UPDATE")
        addC += org.apache.spark.sql.types.StructField(
          ac.fieldNames.head, ac.dataType, nullable = ac.isNullable)
      case dc: TableChange.DeleteColumn =>
        require(dc.fieldNames.length == 1,
          s"DROP COLUMN supports top-level columns only, not " +
            dc.fieldNames.mkString("."))
        dropC += dc.fieldNames.head
      case rn: TableChange.RenameColumn =>
        require(rn.fieldNames.length == 1,
          s"RENAME COLUMN supports top-level columns only, not " +
            rn.fieldNames.mkString("."))
        renameC += rn.fieldNames.head -> rn.newName
      case uc: TableChange.UpdateColumnType =>
        require(uc.fieldNames.length == 1,
          s"ALTER COLUMN TYPE supports top-level columns only, not " +
            uc.fieldNames.mkString("."))
        widenC += uc.fieldNames.head -> uc.newDataType
      case other => throw new UnsupportedOperationException(
        s"TxCatalog ALTER TABLE supports CHECK-constraint properties " +
          s"('check.<name>'), engine properties ('tx.*'), " +
          s"ADD/DROP COLUMN, RENAME COLUMN, and ALTER COLUMN TYPE " +
          s"(widening only), not $other")
    }
    val (ap, dp, ac, dcols) =
      (addP.result(), dropP.result(), addC.result(), dropC.result())
    val (st, ut) = (setT.result(), unsetT.result())
    val rn = renameC.result()
    val wc = widenC.result()
    // ONE change kind per statement: each kind publishes its own
    // manifest version, so a mixed statement would half-apply on a
    // mid-sequence failure — contradicting the all-or-nothing contract
    // each arm documents. Refuse the mix loudly instead.
    val kinds = Seq(
      "ADD/DROP COLUMN" -> (ac.nonEmpty || dcols.nonEmpty),
      "RENAME COLUMN" -> rn.nonEmpty,
      "ALTER COLUMN TYPE" -> wc.nonEmpty,
      "CHECK-constraint properties" -> (ap.nonEmpty || dp.nonEmpty),
      "engine (tx.*) properties" -> (st.nonEmpty || ut.nonEmpty))
      .collect { case (k, true) => k }
    require(kinds.size <= 1,
      "one ALTER TABLE statement may carry only ONE kind of change " +
        s"(got: ${kinds.mkString(" + ")}) — each kind commits its own " +
        "atomic metadata version, and a mixed statement could " +
        "half-apply; issue separate statements")
    require(rn.size <= 1,
      "one ALTER TABLE statement renames ONE column")
    require(wc.size <= 1,
      "one ALTER TABLE statement widens ONE column")
    if (ac.nonEmpty || dcols.nonEmpty)
      TxTable.evolveColumns(SparkSession.active, dir.toString,
        ac, dcols): Unit
    rn.foreach { case (from, to) =>
      TxTable.renameColumn(SparkSession.active, dir.toString, from, to)
        : Unit
    }
    wc.foreach { case (c, t) =>
      TxTable.widenColumn(SparkSession.active, dir.toString, c, t): Unit
    }
    if (ap.nonEmpty || dp.nonEmpty)
      TxTable.alterConstraints(SparkSession.active, dir.toString,
        ap, dp): Unit
    if (st.nonEmpty || ut.nonEmpty)
      TxTable.alterProperties(dir.toString, st, ut): Unit
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean =
    throw new UnsupportedOperationException(
      "TxCatalog does not support DROP TABLE — retention is " +
        "graft.sources.TxTable.vacuum's job")

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit =
    throw new UnsupportedOperationException(
      "TxCatalog does not support RENAME TABLE")

  // ------------------------------------------------- namespaces (dirs)

  override def listNamespaces(): Array[Array[String]] =
    listDirs(root).filter(d => !isTxTable(root.resolve(d)))
      .map(Array(_)).toArray

  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val ns = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(ns)) throw new NoSuchNamespaceException(namespace)
    listDirs(ns).filter(d => !isTxTable(ns.resolve(d)))
      .map(namespace :+ _).toArray
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] = {
    val ns = namespace.foldLeft(root)(_.resolve(_))
    if (!Files.isDirectory(ns)) throw new NoSuchNamespaceException(namespace)
    Map("location" -> ns.toString).asJava
  }

  /** A namespace is just a directory — creating one is metadata-trivial
    * and lets `TxTable.commit` target `<root>/<ns>/<t>` afterwards. */
  override def createNamespace(namespace: Array[String],
                               metadata: util.Map[String, String]): Unit = {
    namespace.foreach(p => require(
      p.nonEmpty && !p.contains('/') && !p.contains('\\') &&
        !p.contains('$') && p != "." && p != "..",
      s"illegal namespace part '$p'"))
    Files.createDirectories(namespace.foldLeft(root)(_.resolve(_))): Unit
  }

  override def alterNamespace(namespace: Array[String],
                              changes: org.apache.spark.sql.connector.catalog.NamespaceChange*): Unit =
    throw new UnsupportedOperationException(
      "TxCatalog namespaces carry no alterable metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean =
    throw new UnsupportedOperationException(
      "TxCatalog does not support DROP NAMESPACE — remove the directory " +
        "deliberately out of band")

  // ------------------------------------------- procedures (CALL ...)

  /** `CALL cat.system.compact('db.t', target_bytes)` and
    * `CALL cat.system.vacuum('db.t', retain, min_age_ms)` — the two
    * maintenance operations a long-lived table needs, exposed through
    * Spark 4's procedure hook so an operator never leaves SQL. Both
    * delegate to the [[TxTable]] entry points (same OCC commit / same
    * retention invariants) and return their result as one LocalScan row. */
  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.toSeq == Seq("system"))
      Array(Identifier.of(namespace, "compact"),
        Identifier.of(namespace, "compact_where"),
        Identifier.of(namespace, "vacuum"),
        Identifier.of(namespace, "restore"),
        Identifier.of(namespace, "zorder"),
        Identifier.of(namespace, "zorder_where"),
        Identifier.of(namespace, "checkpoint"),
        Identifier.of(namespace, "clone"),
        Identifier.of(namespace, "tag"),
        Identifier.of(namespace, "drop_tag"))
    else Array.empty

  override def loadProcedure(ident: Identifier):
      org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    if (ident.namespace().toSeq != Seq("system"))
      throw new IllegalArgumentException(
        s"unknown procedure namespace ${ident.namespace().mkString(".")} — " +
          "procedures live under `system`")
    // ONE name-validation rule for every procedure argument — a table
    // that must already exist (most procedures) and a fresh target
    // (clone) differ only in the committed-table requirement
    def validatedPath(dotted: String, mustExist: Boolean): Path = {
      val parts = dotted.split('.').toSeq
      require(parts.nonEmpty && parts.forall(p =>
          p.nonEmpty && !p.contains('/') && !p.contains('\\') &&
            !p.contains('$') && p != "." && p != ".."),
        s"illegal table name '$dotted'")
      val dir = parts.foldLeft(root)(_.resolve(_))
      if (mustExist)
        require(isTxTable(dir), s"'$dotted' is not a committed tx table " +
          s"under $root")
      dir
    }
    val resolve: String => Path = validatedPath(_, mustExist = true)
    ident.name() match {
      case "compact" => TxProcedures.compact(resolve)
      case "vacuum"  => TxProcedures.vacuum(resolve)
      case "restore" => TxProcedures.restore(resolve)
      case "zorder"  => TxProcedures.zorder(resolve)
      case "zorder_where" => TxProcedures.zorderWhere(resolve)
      case "compact_where" => TxProcedures.compactWhere(resolve)
      case "checkpoint" => TxProcedures.checkpoint(resolve)
      case "clone" =>
        // the TARGET is a fresh path under the warehouse — same name
        // validation, no committed-table requirement
        TxProcedures.clone(resolve, validatedPath(_, mustExist = false))
      case "tag"      => TxProcedures.tag(resolve)
      case "drop_tag" => TxProcedures.dropTag(resolve)
      case other => throw new IllegalArgumentException(
        s"unknown procedure system.$other (have: compact, " +
          "compact_where, vacuum, restore, zorder, zorder_where, " +
          "checkpoint, clone, tag, drop_tag)")
    }
  }

  // ------------------------------------------ functions (SPJ plumbing)

  /** The V2 function behind the `bucket(n, col)` partition transform:
    * storage-partitioned-join planning resolves a transform-keyed
    * KeyGroupedPartitioning through the table catalog's
    * FunctionCatalog (the Iceberg pattern) — without a loadable,
    * canonical `bucket`, Spark downgrades the reported partitioning
    * and re-introduces the exchange this layout exists to remove. */
  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty) Array(Identifier.of(namespace, "bucket"))
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction =
    if (ident.name() == "bucket" && ident.namespace().isEmpty)
      TxBucketFunction
    else throw new org.apache.spark.sql.catalyst.analysis
      .NoSuchFunctionException(ident)

  private def listDirs(p: Path): Seq[String] =
    if (!Files.isDirectory(p)) Seq.empty
    else {
      val s = Files.list(p)
      try s.iterator().asScala
        .filter(Files.isDirectory(_))
        .map(_.getFileName.toString)
        .filterNot(n => n.startsWith("_") || n.startsWith("."))
        .toSeq
      finally s.close()
    }

  private def fullName(ident: Identifier): String =
    (Seq(catalogName) ++ ident.namespace().toSeq :+ ident.name()).mkString(".")
}

/** `bucket(n, col)` as a bindable V2 scalar function — MUST agree
  * bit-for-bit with [[TxTransforms.deriveColumn]]'s staged expression
  * (Spark Murmur3 `hash()`, seed 42, pmod n): the path values ARE this
  * function's results, so SPJ group alignment and any Spark-side
  * re-evaluation land on the same buckets. */
private[graft] object TxBucketFunction
  extends org.apache.spark.sql.connector.catalog.functions.UnboundFunction {
  import org.apache.spark.sql.connector.catalog.functions.{BoundFunction, ScalarFunction}
  import org.apache.spark.sql.types.{IntegerType, LongType}

  override def name(): String = "bucket"
  override def description(): String =
    "bucket(n, col): Murmur3(col, seed 42) pmod n — the tx table's " +
      "hidden bucket partition transform"

  override def bind(inputType: StructType): BoundFunction = {
    require(inputType.fields.length == 2,
      s"bucket expects (numBuckets, value), got ${inputType.simpleString}")
    val vt = inputType.fields(1).dataType
    require(vt == LongType || vt == IntegerType,
      s"bucket value must be int/long, got ${vt.simpleString}")
    new ScalarFunction[Integer] {
      override def inputTypes(): Array[org.apache.spark.sql.types.DataType] =
        Array(IntegerType, vt)
      override def resultType(): org.apache.spark.sql.types.DataType =
        IntegerType
      override def name(): String = "bucket"
      override def canonicalName(): String =
        s"graft.bucket(${vt.simpleString})"
      override def isDeterministic: Boolean = true
      override def produceResult(
          input: org.apache.spark.sql.catalyst.InternalRow): Integer = {
        // null in → null out, bit-for-bit with deriveColumn's
        // when(isNull, null) branch: the staged layout maps null
        // sources to the null partition, so evaluating pmod(hash(0), n)
        // here would disagree with the table's own paths
        if (input.isNullAt(0) || input.isNullAt(1)) return null
        val n = input.getInt(0)
        val h = vt match {
          case LongType => org.apache.spark.unsafe.hash.Murmur3_x86_32
            .hashLong(input.getLong(1), 42)
          case _ => org.apache.spark.unsafe.hash.Murmur3_x86_32
            .hashInt(input.getInt(1), 42)
        }
        Int.box(((h % n) + n) % n)
      }
    }
  }
}

private[graft] object TxCatalog {
  /** Register a TxCatalog named `name` over the warehouse `root` on the
    * session conf — the two keys the class scaladoc documents. */
  def register(spark: SparkSession, name: String, root: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name", classOf[TxCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", root)
  }
}

/** One committed snapshot as a DSv2 table: schema from the manifest,
  * scan delegated to Spark's parquet DSv2 table over exactly the
  * manifest's file list — pushdown/pruning/vectorization are the stock
  * parquet path, the snapshot is the only thing this class adds.
  *
  * Writes (only on a LATEST-version handle) go through Spark's V1 write
  * bridge: `INSERT INTO` / `INSERT OVERWRITE` hand the driver a resolved
  * frame that is committed by [[TxTable.commit]] — the SAME atomic OCC
  * publish every Scala-API writer uses, so SQL writers get snapshot
  * isolation, schema checks, and loud version-conflict failures for
  * free, and a file no manifest references can never appear. Time-travel
  * handles carry no write capability (a commit targets the log head, so
  * a write surface on a historical snapshot would be a lie). */
private[graft] class TxSqlTable(tableName: String, dir: Path, version: Long,
                                writable: Boolean = false)
  extends Table with SupportsRead with SupportsWrite
  with org.apache.spark.sql.connector.catalog.SupportsDelete {

  // ONE manifest read per table handle (a manifest is immutable for its
  // version, and this handle is version-pinned) — schema, file list,
  // stats, and blooms all derive from it
  private lazy val manifest: TxTable.Manifest =
    TxTable.readManifest(dir, version)

  /** Exposed for the row-level UPDATE/MERGE commands ([[TxRowLevel]]):
    * the copy-on-write rewrite targets the table DIRECTORY (it commits
    * against the latest version, like every writer), and only a
    * writable (latest-loaded) handle may be rewritten — time-travel
    * handles carry no write capability, same contract as INSERT. */
  private[graft] def tablePath: Path = dir
  private[graft] def isWritableHandle: Boolean = writable
  /** Hooks for the deletion-vector read rule
    * ([[graft.GraftExtensions]]): a snapshot with live tombstones
    * cannot be served by the plain delegated parquet scan — the rule
    * swaps the relation for the DV-aware snapshot read. */
  private[graft] def snapshotVersion: Long = version
  private[graft] def hasDeletionVectors: Boolean =
    manifest.dvDirs.nonEmpty

  override def name(): String = s"$tableName@v$version"
  override def schema(): StructType = manifest.schema
  override def partitioning(): Array[Transform] =
    TxTransforms.spec(manifest).map(TxTransforms.v2Transform).toArray
  override def capabilities(): util.Set[TableCapability] =
    if (writable)
      // AUTOMATIC_SCHEMA_EVOLUTION is the DSv2 opt-in behind `MERGE …
      // WITH SCHEMA EVOLUTION`: Spark's ResolveMergeIntoSchemaEvolution
      // computes the source-minus-target column delta and routes it
      // through THIS catalog's alterTable (→ TxTable.evolveColumns, the
      // same nullable-ADD contract appends use) before the merge
      // resolves — see [[TxRowLevel]] scaladoc for the commit shape.
      // NOT advertised on PARTITIONED tables — not because the engine
      // cannot express it, but because Spark's own
      // ResolveMergeIntoSchemaEvolution remaps the reloaded relation's
      // exprIds POSITIONALLY (verified: evolving (id,n,lang) to
      // (id,n,flag,lang) left a stale `lang` reference carrying flag's
      // exprId, so SET * silently cast the lang string into the
      // boolean flag slot) — it assumes evolved columns append at the
      // END, while the hive partition-cols-last invariant slots them
      // BEFORE the partition columns. [[TxRowLevel.RowLevelRule]]
      // performs the evolution itself for partitioned targets instead:
      // one evolveColumns commit plus by-name extension of the
      // star-shaped actions, which is position-blind.
      if (manifest.partitionColumns.isEmpty)
        util.EnumSet.of(TableCapability.BATCH_READ,
          TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
          TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
          TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
      else
        util.EnumSet.of(TableCapability.BATCH_READ,
          TableCapability.BATCH_WRITE, TableCapability.V1_BATCH_WRITE,
          TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER)
    else util.EnumSet.of(TableCapability.BATCH_READ)
  override def properties(): util.Map[String, String] =
    (Map("format" -> "graft-txtable", "location" -> dir.toString,
      "version" -> version.toString) ++
      manifest.properties ++
      manifest.constraints.map { case (n, e) => s"check.$n" -> e }).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    // hasDeletionVectors arms the EXECUTION tripwire inside the built
    // scan (TxScanBuilder scaladoc): row-level command planning may
    // legitimately construct (and never run) a scan on a DV-bearing
    // handle, but actually executing one proves DvReadRule was absent.
    // Stats/blooms hand over as the LOGICAL view (keys re-labeled
    // through the column mapping) — the skip filters carry logical
    // names; the builder translates back to physical at the parquet
    // boundary itself.
    new TxScanBuilder(name(), manifest.schema, dir, manifest.files,
      TxTable.logicalStats(manifest), TxTable.logicalBlooms(manifest),
      options, TxTransforms.identityNames(manifest), hasDeletionVectors,
      s"$tableName@v$version", manifest.columnMapping,
      TxTransforms.spec(manifest))

  // ---- SQL `DELETE FROM` — copy-on-write through the skipping layer
  // (TxTable.deleteWhere scaladoc: provably-untouched files carry
  // forward verbatim; the commit is the same OCC publish, so the
  // pre-delete snapshot stays time-travelable). Only a latest-version
  // handle deletes, like every write.
  override def canDeleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Boolean =
    writable && filters.forall(f => SourceFilterColumns.toColumn(f).isDefined)

  override def deleteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter]): Unit = {
    require(writable, s"$tableName: DELETE only targets the latest " +
      "version — load the table without VERSION/TIMESTAMP AS OF")
    TxTable.deleteWhere(SparkSession.active, dir.toString,
      filters.toSeq): Unit
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(writable, s"$tableName: writes only target the latest " +
      "version — load the table without VERSION/TIMESTAMP AS OF")
    new WriteBuilder with SupportsTruncate
        with org.apache.spark.sql.connector.write.SupportsOverwrite {
      private var overwrite = false
      private var replaceFilters
          : Seq[org.apache.spark.sql.sources.Filter] = Nil
      override def truncate(): WriteBuilder = { overwrite = true; this }
      // `INSERT OVERWRITE t PARTITION (p = v)` static specs and
      // `writeTo(t).overwrite(cond)` arrive here as source filters —
      // a predicate-scoped replaceWhere; the degenerate AlwaysTrue is
      // a plain truncate (Spark sends it for unscoped overwrites)
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : WriteBuilder = {
        val real = filters.toSeq.filterNot(
          _.isInstanceOf[org.apache.spark.sql.sources.AlwaysTrue])
        if (real.isEmpty) overwrite = true else replaceFilters = real
        this
      }
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ovw: Boolean): Unit = {
              // INSERT OVERWRITE honors Spark's partitionOverwriteMode
              // (the stock file-table contract): under `dynamic` on a
              // partitioned table, only the partitions PRESENT in the
              // data replace — the daily-partition-reload shape;
              // `static` (default) truncates the whole table.
              if (replaceFilters.nonEmpty) {
                TxTable.replaceWhere(SparkSession.active, dir.toString,
                  replaceFilters, data): Unit
                return
              }
              val dynamic = (overwrite || ovw) &&
                manifest.partitionColumns.nonEmpty &&
                SparkSession.active.conf.get(
                  "spark.sql.sources.partitionOverwriteMode", "static")
                  .equalsIgnoreCase("dynamic")
              TxTable.commit(data, dir.toString,
                if (dynamic) "dynoverwrite"
                else if (overwrite || ovw) "overwrite"
                else "append"): Unit
            }
          }
      }
    }
  }
}

/** The file-skipping scan: manifest min/max stats ([[TxStats]]) prune
  * provably-excluded files BEFORE the parquet table is even
  * constructed — a skipped file costs zero opens, zero footer reads,
  * zero tasks. Filters are accepted at the Catalyst level, translated
  * to source filters for the skip decision, and forwarded VERBATIM to
  * the delegated parquet builder over the surviving file list, so
  * row-group pruning and the plan's PushedFilters are unchanged; every
  * filter is also returned as residual (parquet's own contract — stats
  * are never row-exact), so a wrong skip is the only way results could
  * change, and [[TxStats.excludes]] is conservative by construction. */
/** `hasDvs` arms a loud EXECUTION guard: a snapshot with live
  * tombstones is only readable through DvReadRule's swapped relation
  * (the anti-join has nowhere to hang on a plain scan), and that rule
  * rewrites every read relation during analysis — so EXECUTING this
  * scan with live DVs proves the session registered the TxCatalog
  * without graft.GraftExtensions, where serving rows would silently
  * resurrect deleted ones (and the footer aggregate would count them).
  * The guard sits on `toBatch`, not scan CONSTRUCTION, because
  * row-level command planning (DELETE/UPDATE/MERGE) builds — and never
  * executes — a scan of its target relation. */
/** `mapping` (logical → physical column names, [[TxTable.Manifest]]
  * scaladoc): files spell renamed columns by their PHYSICAL names, so
  * the delegated parquet builders read the physical schema and the
  * built scan re-labels its readSchema back to logical — positions and
  * types are identical (a rename is a pure relabeling), so the
  * positional row binding is sound and the translation costs nothing
  * at runtime. Pushed filters and pruned columns translate
  * logical → physical on the way in; `stats`/`blooms` arrive already
  * re-keyed logical by the caller. */
private[graft] final class TxScanBuilder(
    scanName: String, schema: StructType, dir: Path, relFiles: Seq[String],
    stats: Map[String, Map[String, TxStats.ColStat]],
    blooms: Map[String, Map[String, TxStats.FileBloom]],
    options: CaseInsensitiveStringMap,
    partitionColumns: Seq[String] = Nil,
    hasDvs: Boolean = false,
    handleName: String = "",
    mapping: Map[String, String] = Map.empty,
    transformSpec: Seq[TxTransforms.PartitionField] = Nil)
  extends ScanBuilder
  with org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates {

  import org.apache.spark.sql.catalyst.expressions.Expression

  private var exprFilters: Seq[Expression] = Nil
  private var skipFilters: Seq[org.apache.spark.sql.sources.Filter] = Nil
  private var required: StructType = schema

  // logical → physical translation at the parquet boundary (no-ops on
  // never-renamed tables)
  private def physStruct(s: StructType): StructType =
    TxTable.physicalSchema(s, mapping)
  private def toPhys(e: Expression): Expression =
    if (mapping.isEmpty) e
    else e.transform {
      case a: org.apache.spark.sql.catalyst.expressions.AttributeReference
          if mapping.contains(a.name) => a.withName(mapping(a.name))
    }
  private val reverseMapping: Map[String, String] = mapping.map(_.swap)
  private def toLogical(s: StructType): StructType =
    if (mapping.isEmpty) s
    else StructType(s.fields.map(f =>
      f.copy(name = reverseMapping.getOrElse(f.name, f.name))))

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    exprFilters = filters
    val v1 = filters.flatMap(e =>
      org.apache.spark.sql.graftbridge.GraftBridge.translateFilter(e))
    // hidden-partitioning projection (TxTransforms scaladoc): a filter
    // on a transform's SOURCE column implies a filter on the derived
    // path value, which the stats layer evaluates like any other
    skipFilters = TxTransforms.withProjections(v1, transformSpec)
    filters // all residual, like the parquet builder itself
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    skipFilters.map(org.apache.spark.sql.graftbridge.GraftBridge.filterToV2)
      .toArray

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
    aggBuilder.foreach(_.pruneColumns(requiredSchema))
  }

  // ---- aggregate pushdown by DELEGATION: a whole-table COUNT/MIN/MAX
  // answers from parquet FOOTERS (O(files) metadata, zero data read) —
  // at 100 TB the difference between a second and a full scan. The
  // stock ParquetScanBuilder already implements the footer path and its
  // conf gating (spark.sql.parquet.aggregatePushdown), so the tx scan
  // builds one over the snapshot's full file list and forwards both
  // hooks. Only when nothing filters (all our filters are residual by
  // contract, so a filtered query never qualifies — parquet's own rule).
  // PARTITIONED snapshots push too — the MOST common table shape at
  // 100 TB must not pay a full scan for count(*): a GLOBAL aggregate
  // over DATA columns is grouping-blind, so the per-group reader
  // wrapper is irrelevant and one stock builder over every file's DATA
  // schema answers it from footers. Aggregates touching a partition
  // column (it has no file bytes) fail the stock builder's schema
  // resolution and fall back to the scan — never wrong, just unpushed.
  // DV-bearing snapshots never reach here: DvReadRule swapped the
  // relation at resolution (and newScanBuilder trips loudly without
  // it), so a footer count cannot resurrect tombstoned rows.
  private var aggBuilder
      : Option[org.apache.spark.sql.execution.datasources.v2
        .parquet.ParquetScanBuilder] = None
  private val dataOnlySchema: StructType =
    if (partitionColumns.isEmpty) schema
    else {
      val partSet = partitionColumns.toSet
      StructType(schema.filterNot(f => partSet(f.name)))
    }
  private def mkInner(fs: Seq[String], tag: String,
                      sch: StructType = schema) =
    ParquetTable(s"$scanName $tag", SparkSession.active, options,
      fs.map(f => dir.resolve(f).toString).toList, Some(sch),
      classOf[ParquetFileFormat]).newScanBuilder(options)
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2
        .parquet.ParquetScanBuilder]

  /** Does the aggregation touch any partition column? Those have no
    * file bytes (the path is their storage), and the stock utility
    * THROWS on an unresolvable column rather than declining — so the
    * delegation pre-checks and declines itself. */
  private def touchesPartitionColumn(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    val partSet = partitionColumns.toSet
    (agg.aggregateExpressions()
      ++ agg.groupByExpressions()
      : Array[org.apache.spark.sql.connector.expressions.Expression])
      .exists(_.references().exists(r =>
        r.fieldNames().length == 1 && partSet(r.fieldNames()(0))))
  }

  /** An aggregate over a RENAMED column would need its expression tree
    * rewritten to the physical spelling before delegation — decline
    * instead (never wrong, just unpushed); COUNT(*) and aggregates over
    * never-renamed columns still push. */
  private def touchesRenamedColumn(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean =
    mapping.nonEmpty &&
      (agg.aggregateExpressions()
        ++ agg.groupByExpressions()
        : Array[org.apache.spark.sql.connector.expressions.Expression])
        .exists(_.references().exists(r =>
          r.fieldNames().length == 1 && mapping.contains(r.fieldNames()(0))))

  // ---- partition-column aggregates from the MANIFEST: a partition
  // column has no file bytes — its value IS the path — so MIN/MAX over
  // it reads from the manifest's value layout, and COUNT needs only
  // per-file footer ROW COUNTS (the same O(files) metadata envelope the
  // delegated footer count pays). Row counts also guard the one edge
  // the manifest alone cannot see: a zero-row file's path value must
  // not contribute to MIN/MAX. Gated on the SAME conf as the delegated
  // arm (spark.sql.parquet.aggregatePushdown), no grouping, no filters.
  private var metaAgg: Option[(StructType, Seq[Any])] = None

  /** Memo for [[partColAgg]]: Spark calls supportCompletePushDown and
    * then pushAggregation with the SAME Aggregation instance, and the
    * answer costs one parquet-footer read per file — computing it twice
    * doubles the driver IO of every planned partition-column aggregate
    * for nothing. Keyed by reference: a different Aggregation instance
    * recomputes (the instance is the planner's own per-plan object). */
  private var partColAggMemo: Option[(AnyRef, Option[(StructType, Seq[Any])])] =
    None

  private def partColAggCached(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Seq[Any])] =
    partColAggMemo match {
      case Some((key, res)) if key eq agg => res
      case _ =>
        val res = partColAgg(agg)
        partColAggMemo = Some((agg, res))
        res
    }

  /** The final (schema, values) row for an all-partition-column
    * aggregation, or None when the shape doesn't qualify. */
  private def partColAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Option[(StructType, Seq[Any])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    if (SparkSession.active.conf
        .get("spark.sql.parquet.aggregatePushdown", "false") != "true")
      return None
    if (agg.groupByExpressions().nonEmpty) return None
    val partSet = partitionColumns.toSet
    def partRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames().length == 1 && partSet(r.fieldNames()(0)) =>
        Some(r.fieldNames()(0))
      case _ => None
    }
    val specs: Seq[Option[(String, Option[String])]] =
      agg.aggregateExpressions().toSeq.map {
        case _: CountStar => Some(("count*", None))
        case m: Min => partRef(m.column).map(c => ("min", Some(c)))
        case m: Max => partRef(m.column).map(c => ("max", Some(c)))
        case c: Count if !c.isDistinct =>
          partRef(c.column).map(col => ("count", Some(col)))
        case _ => None
      }
    if (specs.exists(_.isEmpty)) return None
    if (!specs.flatten.exists(_._2.nonEmpty)) return None // all COUNT(*)? let the delegated arm serve it
    // a string partition column's MIN/MAX would be served by Scala's
    // Ordering.String (UTF-16 code-unit order) while a real scan answers
    // in Spark's UTF8String binary (UTF-8 byte) order — the two disagree
    // for supplementary characters vs U+E000–U+FFFF, and unlike the
    // skipping layer (where non-ASCII is conservatively unprunable) this
    // value IS the query result. Decline the manifest-served arm for any
    // non-ASCII string value; the scan answers correctly, just unpushed.
    val minMaxStringCols = specs.flatten.collect {
      case ("min" | "max", Some(c))
          if schema(c).dataType == org.apache.spark.sql.types.StringType => c
    }.distinct
    if (minMaxStringCols.exists(c => relFiles.exists(f =>
        TxTable.partitionValuesFromPath(f, partSet).get(c)
          .exists(_.exists(_ > 127)))))
      return None
    // one footer read per file, bounded-concurrency on the driver —
    // the exact metadata envelope of the delegated footer count
    val counts = new java.util.concurrent.ConcurrentHashMap[String,
      java.lang.Long]()
    TxTable.runConcurrently(relFiles.size, 8) { i =>
      val f = relFiles(i)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(dir.resolve(f).toString),
          new org.apache.hadoop.conf.Configuration()))
      try counts.put(f, reader.getFooter.getBlocks.asScala
        .map(_.getRowCount).sum): Unit
      finally reader.close()
    }
    val partSetAll = partitionColumns.toSet
    def liveValues(c: String): Seq[(String, Long)] = relFiles.flatMap { f =>
      val rows = counts.get(f).longValue()
      if (rows == 0L) None
      else TxTable.partitionValuesFromPath(f, partSetAll).get(c)
        .map(v => (v, rows))
    }
    def typedOrd(c: String): Ordering[String] =
      schema(c).dataType match {
        case org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => Ordering.by(_.toLong)
        case _ => Ordering.String
      }
    val fieldsAndValues = specs.flatten.map {
      case ("count*", None) =>
        (org.apache.spark.sql.types.StructField("count(*)", org.apache.spark.sql.types.LongType,
          nullable = false),
          relFiles.map(f => counts.get(f).longValue()).sum: Any)
      case ("count", Some(c)) =>
        (org.apache.spark.sql.types.StructField(s"count($c)", org.apache.spark.sql.types.LongType,
          nullable = false), liveValues(c).map(_._2).sum: Any)
      case ("min", Some(c)) =>
        val vs = liveValues(c).map(_._1)
        (org.apache.spark.sql.types.StructField(s"min($c)", schema(c).dataType),
          if (vs.isEmpty) null
          else TxTable.catalystPartitionValue(
            Some(vs.min(typedOrd(c))), schema(c).dataType))
      case ("max", Some(c)) =>
        val vs = liveValues(c).map(_._1)
        (org.apache.spark.sql.types.StructField(s"max($c)", schema(c).dataType),
          if (vs.isEmpty) null
          else TxTable.catalystPartitionValue(
            Some(vs.max(typedOrd(c))), schema(c).dataType))
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    Some((StructType(fieldsAndValues.map(_._1)),
      fieldsAndValues.map(_._2)))
  }

  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    if (exprFilters.nonEmpty || touchesRenamedColumn(agg)) return false
    if (touchesPartitionColumn(agg)) return partColAggCached(agg).isDefined
    mkInner(relFiles, "agg-probe", physStruct(dataOnlySchema))
      .supportCompletePushDown(agg)
  }

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate
        .Aggregation): Boolean = {
    if (exprFilters.nonEmpty || touchesRenamedColumn(agg)) return false
    if (touchesPartitionColumn(agg)) {
      metaAgg = partColAggCached(agg)
      return metaAgg.isDefined
    }
    val inner = mkInner(relFiles, "agg=footer-only",
      physStruct(dataOnlySchema))
    if (!inner.pushAggregation(agg)) return false
    aggBuilder = Some(inner)
    true
  }

  override def build(): org.apache.spark.sql.connector.read.Scan = {
    if (hasDvs) return new DvGuardedScan(build0(), handleName)
    build0()
  }

  private def build0(): org.apache.spark.sql.connector.read.Scan = {
    metaAgg.foreach { case (sch, vals) =>
      return new org.apache.spark.sql.connector.read.LocalScan {
        override def readSchema(): StructType = sch
        override def rows()
            : Array[org.apache.spark.sql.catalyst.InternalRow] =
          Array(org.apache.spark.sql.catalyst.InternalRow.fromSeq(vals))
        override def description(): String =
          s"$scanName agg=manifest-partition-values"
      }
    }
    aggBuilder.foreach(b => return b.build())
    val evalSchema = TxTransforms.skipSchema(schema, transformSpec)
    val kept = relFiles.filter(f => TxStats.mayMatch(
      stats.getOrElse(f, Map.empty), blooms.getOrElse(f, Map.empty),
      evalSchema, skipFilters))
    val skipTag = s"skipped=${relFiles.size - kept.size}/${relFiles.size}"
    // ALL layout field names (identity + hidden transforms) — what the
    // paths and stats key by, and what key-grouping groups by; the
    // `partitionColumns` param holds the IDENTITY subset (the only
    // fields whose values readers attach as columns)
    val allFieldNames =
      if (transformSpec.nonEmpty) transformSpec.map(_.name)
      else partitionColumns
    if (allFieldNames.isEmpty) {
      def buildInner(fs: Seq[String])
          : org.apache.spark.sql.connector.read.Scan = {
        val inner = ParquetTable(s"$scanName $skipTag",
          SparkSession.active, options,
          fs.map(f => dir.resolve(f).toString).toList,
          Some(physStruct(schema)),
          classOf[ParquetFileFormat]).newScanBuilder(options)
        inner.pushFilters(exprFilters.map(toPhys)): Unit
        inner.pruneColumns(physStruct(required))
        val scan = inner.build()
        if (mapping.isEmpty) scan
        else new RelabeledScan(scan, toLogical(scan.readSchema()), skipTag)
      }
      new TxFlatScan(kept, stats, blooms, evalSchema,
        TxRuntimeFilter.filterableColumns(
          required.fieldNames.toSeq, Nil, stats, blooms),
        relFiles.size - kept.size, buildInner, transformSpec)
    } else {
      // PARTITIONED snapshot: hive path discovery cannot serve files
      // spanning many commit dirs (conflicting roots), so the MANIFEST
      // is the source of partition values (the Delta model): kept files
      // group by value tuple — group count = live partition
      // cardinality, not file count — each group delegates to a stock
      // parquet scan over the DATA columns only, and its constant
      // partition values ride the planned splits, appended per-row by
      // the reader wrapper (JoinedRow — no copy). Manifest stats
      // already did partition pruning above (values are min=max
      // entries); filters referencing partition columns stay ABOVE the
      // scan (all filters are residual by contract), only data-column
      // filters forward into the inner builders.
      // only IDENTITY fields are schema columns; hidden fields group
      // and key splits but never surface as columns (their sources are
      // ordinary data columns, in the bytes)
      val idSet = partitionColumns.toSet
      val dataSchema = StructType(schema.filterNot(f => idSet(f.name)))
      val dataNames = dataSchema.fieldNames.toSet
      val requiredData =
        StructType(required.filterNot(f => idSet(f.name)))
      val requiredParts = required.filter(f => idSet(f.name))
      val dataFilters = exprFilters.filter(
        _.references.toSeq.forall(a => dataNames.contains(a.name)))
      val outSchema = StructType(requiredData ++ requiredParts)
      val effSpec =
        if (transformSpec.nonEmpty) transformSpec
        else partitionColumns.map(c =>
          TxTransforms.PartitionField(c, "identity", c))
      val partTypes: Map[String, org.apache.spark.sql.types.DataType] =
        effSpec.map(f => f.name -> TxTransforms.derivedType(f, schema))
          .toMap
      new TxPartitionedScan(scanName, skipTag, dir, kept, stats, blooms,
        evalSchema, outSchema, allFieldNames, requiredParts,
        physStruct(dataSchema), physStruct(requiredData),
        dataFilters.map(toPhys), relFiles.size - kept.size, options,
        effSpec, partTypes)
    }
  }
}

/** A driver-reported SQL metric (shown on the BatchScan node in the
  * Spark UI): how many files the manifest skipped at planning and how
  * many a runtime (DPP/DFP) filter pruned — the two numbers that tell
  * an operator whether the skipping layer is EARNING anything on a
  * query, without reading logs. */
private[graft] final class DriverSumMetric(mName: String, desc: String)
  extends org.apache.spark.sql.connector.metric.CustomMetric {
  override def name(): String = mName
  override def description(): String = desc
  override def aggregateTaskMetrics(taskMetrics: Array[Long]): String =
    taskMetrics.sum.toString
}

private[graft] object TxScanMetrics {
  def supported: Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(
      new DriverSumMetric("filesSkipped",
        "files skipped by manifest stats/blooms at planning"),
      new DriverSumMetric("filesRuntimePruned",
        "files pruned by runtime (dynamic partition/file) filters"))
  def report(skipped: Long, runtimePruned: Long)
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(
      taskMetric("filesSkipped", skipped),
      taskMetric("filesRuntimePruned", runtimePruned))
  private def taskMetric(n: String, v: Long) =
    new org.apache.spark.sql.connector.metric.CustomTaskMetric {
      override def name(): String = n
      override def value(): Long = v
    }
}

/** Shared engine of DSv2 runtime filtering (dynamic partition pruning
  * AND dynamic FILE pruning on data columns) for both tx scan shapes:
  * the V2 predicates BatchScanExec hands back at execution — `IN` lists
  * materialized from the dim side's broadcast — translate to source
  * filters and run through the SAME conservative machinery as
  * planning-time skipping: manifest min/max stats (partition values
  * ride as min=max entries; clustered data columns prune by range) and
  * per-file BLOOMS (high-cardinality join keys — ids, hashes — where
  * min/max spans everything and only a membership test can prove a
  * file out). Untranslatable shapes and over-budget IN lists keep
  * every file — never wrong, just unpruned. */
private[graft] object TxRuntimeFilter {

  /** Driver-side budget: the skip test costs O(files × IN values); a
    * dim side with more distinct keys than this isn't selective enough
    * to pay that loop for (and would rarely prune anyway). */
  val MaxRuntimeInValues = 10000

  private def inBudget(f: org.apache.spark.sql.sources.Filter): Boolean =
    f match {
      case org.apache.spark.sql.sources.In(_, vs) =>
        vs != null && vs.length <= MaxRuntimeInValues
      case _ => true
    }

  /** Files a runtime predicate set cannot prove empty. `spec` projects
    * each translated predicate onto hidden partition transforms
    * (TxTransforms scaladoc): a DPP/DFP IN-list of join keys over a
    * bucketed source column prunes to its bucket directories — the
    * footer min/max alone never could (a bucket does not cluster key
    * ranges). The caller passes the matching augmented schema. */
  def survivors(files: Seq[String],
      stats: Map[String, Map[String, TxStats.ColStat]],
      blooms: Map[String, Map[String, TxStats.FileBloom]],
      schema: StructType,
      predicates: Array[
        org.apache.spark.sql.connector.expressions.filter.Predicate],
      spec: Seq[TxTransforms.PartitionField] = Nil)
      : Seq[String] = {
    val base = predicates.toSeq
      .flatMap(p =>
        org.apache.spark.sql.graftbridge.GraftBridge.predicateToV1(p))
      .filter(inBudget)
    val v1 = TxTransforms.withProjections(base, spec)
    if (v1.isEmpty) files
    else files.filter(f => TxStats.mayMatch(stats.getOrElse(f, Map.empty),
      blooms.getOrElse(f, Map.empty), schema, v1))
  }

  /** Columns worth declaring as runtime-filterable: of the scan's
    * OUTPUT columns (Catalyst resolves filter attributes against the
    * column-pruned relation and throws on a miss), the partition
    * columns plus any column some file carries stats or a bloom for —
    * a column with neither can never prune, so advertising it would
    * only buy the optimizer useless subquery work. */
  def filterableColumns(outNames: Seq[String],
      partitionColumns: Seq[String],
      stats: Map[String, Map[String, TxStats.ColStat]],
      blooms: Map[String, Map[String, TxStats.FileBloom]]): Seq[String] = {
    lazy val keyed =
      stats.valuesIterator.flatMap(_.keysIterator).toSet ++
        blooms.valuesIterator.flatMap(_.keysIterator)
    outNames.filter(n => partitionColumns.contains(n) || keyed.contains(n))
  }
}

/** The unpartitioned tx snapshot's scan: a thin runtime-filtering
  * wrapper over the delegated (and possibly relabeled) parquet scan.
  * `filter()` re-computes the surviving file list through
  * [[TxRuntimeFilter]]; the Batch is a late-bound shim so partitions
  * plan from the POST-filter list (BatchScanExec may touch `toBatch`
  * before runtime filters arrive — the inner scan rebuilds lazily,
  * keyed on the current file list). A pruned file costs zero footer
  * opens: the delegated ParquetScanBuilder is reconstructed over the
  * survivors only. */
private[graft] final class TxFlatScan(
    kept: Seq[String],
    stats: Map[String, Map[String, TxStats.ColStat]],
    blooms: Map[String, Map[String, TxStats.FileBloom]],
    schema: StructType,
    filterable: Seq[String],
    plannedSkipped: Int,
    buildInner: Seq[String] => org.apache.spark.sql.connector.read.Scan,
    spec: Seq[TxTransforms.PartitionField] = Nil)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering {

  @volatile private var runtimeKept: Seq[String] = kept
  @volatile private[graft] var runtimePruned: Int = 0
  @volatile private var cached
      : (Seq[String], org.apache.spark.sql.connector.read.Scan) =
    (kept, buildInner(kept))

  private def inner: org.apache.spark.sql.connector.read.Scan = {
    val rk = runtimeKept
    if (!(cached._1 eq rk)) cached = (rk, buildInner(rk))
    cached._2
  }

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    filterable.map(c =>
      org.apache.spark.sql.connector.expressions.Expressions.column(c))
      .toArray

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val before = runtimeKept.size
    runtimeKept = TxRuntimeFilter.survivors(
      runtimeKept, stats, blooms, schema, predicates, spec)
    runtimePruned += before - runtimeKept.size
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    TxScanMetrics.supported
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    TxScanMetrics.report(plannedSkipped, runtimePruned)

  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] =
        inner.toBatch.planInputPartitions()
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        inner.toBatch.createReaderFactory()
    }
}

/** The partitioned tx snapshot's scan. SupportsReportStatistics:
  * without it a DSv2 scan defaults to spark.sql.defaultSizeInBytes
  * (effectively infinite), so a JOIN against a small partitioned tx
  * table would never broadcast — the kept files' byte sum is O(files)
  * driver metadata and feeds Catalyst's build-side choice honestly.
  * (The unpartitioned arm delegates to FileScan, which already
  * reports.)
  *
  * SupportsRuntimeV2Filtering — DYNAMIC PARTITION PRUNING, the 100 TB
  * fact-dim join shape: `SELECT … FROM fact JOIN dim ON fact.p = dim.p
  * WHERE dim.x = …` must not scan every fact partition when the dim
  * filter selects a handful of values. Declaring the partition columns
  * as filter attributes lets Catalyst's PartitionPruning rule inject a
  * dynamic subquery on the dim side's (reused) broadcast; at execution
  * BatchScanExec hands the materialized keys back as V2 `IN`
  * predicates, translated here to source filters and run through the
  * SAME conservative manifest-stats machinery as planning-time
  * skipping (partition values ride as min=max stat entries) — a pruned
  * value group costs zero footer opens, zero tasks, because
  * planInputPartitions builds the delegated parquet scans AFTER the
  * runtime filter lands. Unknown predicate shapes keep every file
  * (never wrong, just unpruned); null-valued groups keep conservatively
  * (no stats entry — an IN can never prove them out). */
private[graft] final class TxPartitionedScan(
    scanName: String, skipTag: String, dir: Path, kept: Seq[String],
    stats: Map[String, Map[String, TxStats.ColStat]],
    blooms: Map[String, Map[String, TxStats.FileBloom]],
    schema: StructType, outSchema: StructType,
    partitionColumns: Seq[String],
    requiredParts: Seq[org.apache.spark.sql.types.StructField],
    physDataSchema: StructType, physRequiredData: StructType,
    physDataFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression],
    plannedSkipped: Int,
    options: CaseInsensitiveStringMap,
    spec: Seq[TxTransforms.PartitionField] = Nil,
    partTypes: Map[String, org.apache.spark.sql.types.DataType] =
      Map.empty)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning {

  private val partSet = partitionColumns.toSet
  private val effSpec: Seq[TxTransforms.PartitionField] =
    if (spec.nonEmpty) spec
    else partitionColumns.map(c =>
      TxTransforms.PartitionField(c, "identity", c))
  private def typeOf(c: String): org.apache.spark.sql.types.DataType =
    partTypes.getOrElse(c, schema(c).dataType)

  /** STORAGE-PARTITIONED JOINS (the Iceberg SPJ design): report the
    * layout as KeyGroupedPartitioning over the partition columns, so
    * two tx tables partitioned the same way JOIN — and a groupBy on
    * the partition column aggregates — WITHOUT a shuffle (under
    * spark.sql.sources.v2.bucketing.enabled): Spark groups this scan's
    * splits by their [[AppendedColsPartition.key]] into one task per
    * value tuple and aligns both sides' groups. At 100 TB the
    * co-partitioned fact-fact join is THE shuffle to eliminate — the
    * exchange would move the whole table. numPartitions is the
    * planning-time group count; a runtime (DPP) filter only ever
    * REMOVES whole groups, which BatchScanExec re-groups against the
    * reported values. Only declared when every partition column is in
    * the OUTPUT (key expressions resolve against the pruned schema —
    * same contract as filterAttributes); otherwise the scan reports
    * unknown partitioning and planning falls back to a shuffle, never
    * wrong. */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning = {
    // identity fields need their NAME in the output; a transform field
    // needs its SOURCE column (the key expression references it). Only
    // identity and bucket report — a days/truncate grouping is not a
    // join-key grouping Spark can align, so those fall back to
    // UnknownPartitioning (a shuffle, never wrong).
    val reportable = effSpec.forall(f =>
      f.isIdentity || f.transform.startsWith("bucket["))
    val allOut = effSpec.forall(f => outSchema.fieldNames.contains(
      if (f.isIdentity) f.name else f.source))
    val groups = kept.map(f => partitionColumns.map(c =>
      TxTable.partitionValuesFromPath(f, partSet).get(c))).distinct.size
    if (!reportable || !allOut || groups == 0)
      new org.apache.spark.sql.connector.read.partitioning
        .UnknownPartitioning(math.max(groups, 1))
    else
      new org.apache.spark.sql.connector.read.partitioning
        .KeyGroupedPartitioning(
          effSpec.map(TxTransforms.v2Transform)
            .map(t => t: org.apache.spark.sql.connector.expressions
              .Expression).toArray,
          groups)
  }

  /** Files surviving the runtime filter (starts at the planning-time
    * kept set); volatile — filter() runs on the driver before the
    * execution-time planInputPartitions. */
  @volatile private var runtimeKept: Seq[String] = kept
  /** Observability for suites and the gate's plan pins: value groups
    * planned by the LAST planInputPartitions call (-1 = never planned),
    * and whether a runtime filter actually pruned files. */
  @volatile private[graft] var plannedGroups: Int = -1
  @volatile private[graft] var runtimePruned: Int = 0

  override def filterAttributes()
      : Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    // only columns the scan actually OUTPUTS: Catalyst resolves these
    // against the relation's (column-pruned) output and THROWS on a
    // miss — a scan that pruned its partition column away (the query
    // never reads it) must not advertise it. Beyond partition columns,
    // stats/bloom-bearing DATA columns prune too (dynamic FILE pruning
    // on a clustered range or a bloom'd join key).
    TxRuntimeFilter.filterableColumns(outSchema.fieldNames.toSeq,
        partitionColumns, stats, blooms)
      .map(c =>
        org.apache.spark.sql.connector.expressions.Expressions.column(c))
      .toArray

  override def filter(predicates: Array[
      org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val before = runtimeKept.size
    runtimeKept = TxRuntimeFilter.survivors(
      runtimeKept, stats, blooms, schema, predicates, effSpec)
    runtimePruned += before - runtimeKept.size
  }

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(
          kept.map(f => Files.size(dir.resolve(f))).sum)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  override def readSchema(): StructType = outSchema
  override def description(): String = s"$scanName $skipTag"
  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    TxScanMetrics.supported
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    TxScanMetrics.report(plannedSkipped, runtimePruned)
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    new org.apache.spark.sql.connector.read.Batch {
      override def planInputPartitions()
          : Array[org.apache.spark.sql.connector.read.InputPartition] = {
        val groups = runtimeKept.groupBy(f => partitionColumns.map(c =>
            TxTable.partitionValuesFromPath(f, partSet).get(c)))
          .toSeq.sortBy(_._1.toString)
        plannedGroups = groups.size
        groups.flatMap { case (vals, fs) =>
          val inner = ParquetTable(s"$scanName $skipTag",
            SparkSession.active, options,
            fs.map(f => dir.resolve(f).toString).toList,
            Some(physDataSchema), classOf[ParquetFileFormat])
            .newScanBuilder(options)
          inner.pushFilters(physDataFilters): Unit
          inner.pruneColumns(physRequiredData)
          val b = inner.build().toBatch
          val fac = b.createReaderFactory()
          val tail: Array[Any] = requiredParts.map(f =>
            TxTable.catalystPartitionValue(
              vals(partitionColumns.indexOf(f.name)), f.dataType)).toArray
          // the group's FULL partition-value tuple (layout types, not
          // just the projected subset) keys the splits for SPJ grouping
          val key = org.apache.spark.sql.catalyst.InternalRow.fromSeq(
            partitionColumns.zip(vals).map { case (c, v0) =>
              TxTable.catalystPartitionValue(v0, typeOf(c)) })
          b.planInputPartitions()
            .map(p => AppendedColsPartition(p, tail, fac, key)
              : org.apache.spark.sql.connector.read.InputPartition)
        }.toArray
      }
      override def createReaderFactory()
          : org.apache.spark.sql.connector.read.PartitionReaderFactory =
        AppendedColsReaderFactory
    }
}

/** A delegated scan re-labeled to LOGICAL column names ([[TxScanBuilder]]
  * scaladoc): the inner parquet scan read the physical spelling; this
  * wrapper reports the logical one. Rows pass through VERBATIM — a
  * rename never changes a column's position or type, so the positional
  * InternalRow binding is exact and the relabeling costs nothing. */
private[graft] final class RelabeledScan(
    inner: org.apache.spark.sql.connector.read.Scan,
    logical: StructType, tag: String = "")
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = logical
  override def description(): String =
    (tag + " " + inner.description()).trim
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    inner.toBatch
}

/** The armed tripwire behind [[TxScanBuilder]]'s `hasDvs`: planning
  * surfaces (schema, description, statistics) forward to the real scan
  * — row-level commands plan against them — but EXECUTING it refuses
  * loudly, because a session with DvReadRule installed can never reach
  * here (the rule swapped the relation during analysis) and a session
  * without it would silently resurrect deleted rows. */
private[graft] final class DvGuardedScan(
    inner: org.apache.spark.sql.connector.read.Scan, handle: String)
  extends org.apache.spark.sql.connector.read.Scan
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = inner.readSchema()
  override def description(): String = inner.description()
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics = inner match {
    case s: org.apache.spark.sql.connector.read.SupportsReportStatistics =>
      s.estimateStatistics()
    case _ => new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.empty()
    }
  }
  private def refuse(): Nothing = throw new IllegalStateException(
    s"$handle carries live deletion vectors but its scan was planned " +
      "without DvReadRule — register " +
      "spark.sql.extensions=graft.GraftExtensions (or " +
      "GraftExtensions.register) in the session that reads this table; " +
      "a plain scan would resurrect deleted rows")
  override def toBatch: org.apache.spark.sql.connector.read.Batch =
    refuse()
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    refuse()
}

/** A planned parquet split plus CONSTANT column values appended to every
  * row — how the partitioned tx scan attaches manifest-derived
  * partition values without hive path discovery ([[TxScanBuilder]]).
  * The inner factory travels inside the partition (built per value
  * group on the driver; serializable by design). */
/** `key` (nullable): the group's partition-value tuple as an
  * InternalRow — consulted ONLY when the owning scan reports
  * KeyGroupedPartitioning (storage-partitioned joins); the CDF stream
  * reuses this wrapper key-less and never reports partitioning. */
private[sources] case class AppendedColsPartition(
    inner: org.apache.spark.sql.connector.read.InputPartition,
    values: Array[Any],
    factory: org.apache.spark.sql.connector.read.PartitionReaderFactory,
    key: org.apache.spark.sql.catalyst.InternalRow = null)
  extends org.apache.spark.sql.connector.read.InputPartition
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def preferredLocations(): Array[String] =
    inner.preferredLocations()
  override def partitionKey(): org.apache.spark.sql.catalyst.InternalRow =
    key
}

private[sources] object AppendedColsReaderFactory
  extends org.apache.spark.sql.connector.read.PartitionReaderFactory {
  import org.apache.spark.sql.catalyst.InternalRow
  override def createReader(
      p: org.apache.spark.sql.connector.read.InputPartition)
      : org.apache.spark.sql.connector.read.PartitionReader[InternalRow] = {
    val ap = p.asInstanceOf[AppendedColsPartition]
    val in = ap.factory.createReader(ap.inner)
    val tail = new org.apache.spark.sql.catalyst.expressions
      .GenericInternalRow(ap.values)
    new org.apache.spark.sql.connector.read.PartitionReader[InternalRow] {
      private val joined =
        new org.apache.spark.sql.catalyst.expressions.JoinedRow
      override def next(): Boolean = in.next()
      override def get(): InternalRow = joined(in.get(), tail)
      override def close(): Unit = in.close()
    }
  }
}

/** Iceberg-style metadata tables over the manifest log, served through
  * DSv2 `LocalScan` — the rows ARE driver metadata (one manifest read
  * per version / one `Files.size` per live file), so shipping them
  * through a distributed scan would be pure overhead. Read-only by
  * construction.
  *
  *  - `t$history`: (version, op, published_at, n_files) — one row per
  *    retained version, publish time from the manifest file's mtime
  *    (the commit's only clock, same rule as `TIMESTAMP AS OF`).
  *  - `t$files`:   (version, file, bytes) — the LATEST snapshot's
  *    resolved file inventory, the input a compaction planner reads.
  */
private[graft] object TxMetaTables {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{LongType, StringType, StructField, TimestampType}
  import org.apache.spark.unsafe.types.UTF8String

  private val HistorySchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("op", StringType, nullable = false),
    StructField("published_at", TimestampType, nullable = false),
    StructField("n_files", LongType, nullable = false)))

  private val FilesSchema = StructType(Seq(
    StructField("version", LongType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  private val StatsSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("column", StringType, nullable = false),
    StructField("min", StringType, nullable = true),
    StructField("max", StringType, nullable = true),
    StructField("has_bloom", org.apache.spark.sql.types.BooleanType,
      nullable = false)))

  private val ConstraintsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("expr", StringType, nullable = false)))

  private val DvSchema = StructType(Seq(
    StructField("dv_dir", StringType, nullable = false),
    StructField("tombstones", LongType, nullable = false),
    StructField("bytes", LongType, nullable = false)))

  private val PartitionsSchema = StructType(Seq(
    StructField("part", StringType, nullable = false),
    StructField("n_files", LongType, nullable = false),
    StructField("n_rows", LongType, nullable = true),
    StructField("bytes", LongType, nullable = false)))

  private val LogSchema = StructType(Seq(
    StructField("latest_version", LongType, nullable = false),
    StructField("checkpoint_version", LongType, nullable = true),
    StructField("replay_deltas", LongType, nullable = false)))

  private val RefsSchema = StructType(Seq(
    StructField("name", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  def table(name: String, dir: Path, kind: String): Table = kind match {
    // `t$refs`: the snapshot tags in force (r20 — Iceberg refs):
    // which names pin which versions against vacuum, and what
    // `VERSION AS OF '<name>'` resolves to
    case "refs" => new MetaTable(name, RefsSchema, () =>
      TxTable.tags(dir.toString).toSeq.sortBy(_._1).map { case (n, v) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(n), v)): InternalRow
      }.toArray)
    // `t$log`: log health — the checkpoint-staleness signal
    // (TxTable.logSummary scaladoc): replay_deltas far above
    // tx.checkpointInterval means checkpoint writes are failing and
    // `CALL system.checkpoint` is due
    case "log" => new MetaTable(name, LogSchema, () => {
      val s = TxTable.logSummary(dir.toString)
      Array(new GenericInternalRow(Array[Any](s.latestVersion,
        s.checkpointVersion.map(Long.box).orNull, s.replayDeltas))
        : InternalRow)
    })
    // `t$partitions`: one row per live partition-value tuple — file
    // count, row count (from the manifest's per-file stats when every
    // file carries one; NULL otherwise — honest over old manifests),
    // and byte size. THE operator view for choosing compaction/zorder
    // targets and spotting value skew without a scan; a flat table
    // reports its whole snapshot as the single '{}' partition. All
    // numbers are manifest + Files.size metadata — zero data read.
    case "partitions" => new MetaTable(name, PartitionsSchema, () => {
      val v = TxTable.headVersion(dir.toString)
      val m = TxTable.readManifestLite(dir, v)
      val partSet = m.partitionColumns.toSet
      def tupleOf(f: String): String =
        if (m.partitionColumns.isEmpty) "{}"
        else {
          val vals = TxTable.partitionValuesFromPath(f, partSet)
          m.partitionColumns.map(c =>
            s"$c=${vals.getOrElse(c, "__HIVE_DEFAULT_PARTITION__")}")
            .mkString("{", ", ", "}")
        }
      m.files.groupBy(tupleOf).toSeq.sortBy(_._1).map { case (tuple, fs) =>
        // rows only when EVERY file of the group carries a stats row
        // count (ColStat.rows >= 0 — recorded since null-count stats
        // landed); a partial sum would understate silently
        val rowCounts = fs.map(f => m.stats.getOrElse(f, Map.empty)
          .valuesIterator.map(_.rows).find(_ >= 0L).getOrElse(-1L))
        val rows: Any =
          if (rowCounts.nonEmpty && rowCounts.forall(_ >= 0L))
            rowCounts.sum
          else null
        new GenericInternalRow(Array[Any](UTF8String.fromString(tuple),
          fs.size.toLong, rows,
          fs.map(f => Files.size(dir.resolve(f))).sum)): InternalRow
      }.toArray
    })
    // `t$dv`: the live deletion-vector sidecars — how much tombstone
    // debt the snapshot carries (the purgeDeletes trigger metric);
    // tombstone counts come from parquet FOOTERS, zero data read
    case "dv" => new MetaTable(name, DvSchema, () => {
      val v = TxTable.headVersion(dir.toString)
      TxTable.readManifestLite(dir, v).dvDirs.sorted.map { d =>
        val fs = TxTable.walkParquet(dir.resolve(d))
        val n = fs.map { p =>
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
              new org.apache.hadoop.fs.Path(p.toString),
              new org.apache.hadoop.conf.Configuration()))
          try r.getRecordCount finally r.close()
        }.sum
        new GenericInternalRow(Array[Any](UTF8String.fromString(d), n,
          fs.map(Files.size).sum)): InternalRow
      }.toArray
    })
    // `t$constraints`: the data-quality promises in force — what every
    // write is validated against (TxTable.commit scaladoc)
    case "constraints" => new MetaTable(name, ConstraintsSchema, () => {
      val v = TxTable.headVersion(dir.toString)
      TxTable.readManifestLite(dir, v).constraints.toSeq.sortBy(_._1)
        .map { case (n, e) =>
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(n), UTF8String.fromString(e)))
            : InternalRow
        }.toArray
    })
    // `t$stats`: the data-skipping layer made introspectable — which
    // files carry min/max for which columns, and which have blooms; the
    // first question to ask when a point lookup scans more files than
    // expected
    case "stats" => new MetaTable(name, StatsSchema, () => {
      val v = TxTable.headVersion(dir.toString)
      val m = TxTable.readManifest(dir, v)
      m.files.sorted.flatMap { f =>
        val st = m.stats.getOrElse(f, Map.empty)
        val bl = m.blooms.getOrElse(f, Map.empty)
        val cols = (st.keySet ++ bl.keySet).toSeq.sorted
        cols.map { c =>
          val cs = st.get(c)
          new GenericInternalRow(Array[Any](
            UTF8String.fromString(f), UTF8String.fromString(c),
            cs.map(x => UTF8String.fromString(x.min)).orNull,
            cs.map(x => UTF8String.fromString(x.max)).orNull,
            bl.contains(c))): InternalRow
        }
      }.toArray
    })
    case "history" => new MetaTable(name, HistorySchema, () =>
      TxTable.history(dir.toString).flatMap { case (v, op) =>
        // a manifest that vanishes between the listing and this re-read
        // was expired by a CONCURRENT vacuum — same normal-reader-races-
        // vacuum scenario TIMESTAMP AS OF resolves by skipping (:165);
        // the row simply no longer belongs in the history
        try {
          val m = TxTable.readManifestLite(dir, v)
          val mtime = Files.getLastModifiedTime(
            dir.resolve("_txlog").resolve(f"v$v%05d.json")).toMillis
          Some(new GenericInternalRow(Array[Any](v, UTF8String.fromString(op),
            mtime * 1000L, m.files.length.toLong)): InternalRow)
        } catch { case _: java.nio.file.NoSuchFileException => None }
      }.toArray)
    case "files" => new MetaTable(name, FilesSchema, () => {
      val v = TxTable.headVersion(dir.toString)
      TxTable.readManifestLite(dir, v).files.map { f =>
        new GenericInternalRow(Array[Any](v, UTF8String.fromString(f),
          Files.size(dir.resolve(f)))): InternalRow
      }.toArray
    })
  }

  private final class MetaTable(tableName: String, tableSchema: StructType,
                                mkRows: () => Array[InternalRow])
    extends Table with SupportsRead {
    override def name(): String = tableName
    override def schema(): StructType = tableSchema
    override def capabilities(): util.Set[TableCapability] =
      util.EnumSet.of(TableCapability.BATCH_READ)
    override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
      new ScanBuilder {
        override def build(): Scan = new LocalScan {
          override def readSchema(): StructType = tableSchema
          // built at scan time, not table-load time: SHOW TABLES or a
          // cached plan must not freeze the log's state
          override def rows(): Array[InternalRow] = mkRows()
        }
      }
  }
}

/** The staged table behind atomic CTAS/RTAS ([[TxCatalog.stageCreate]]
  * scaladoc): inserts stage files via [[TxTable.stageData]] (written
  * but referenced by NO manifest — invisible until publish),
  * `commitStagedChanges` publishes them as one version (v1 with the
  * CREATE TOCTOU guard, or `latest+1` as an overwrite for REPLACE),
  * `abortStagedChanges` reclaims them. Thread-safe accumulation: Spark
  * may run inserts before the driver-side commit, never concurrently
  * with it, but the buffer is synchronized anyway — cheap insurance. */
private[graft] object StagedTxTable {
  sealed trait Mode
  case object Create extends Mode
  case object Replace extends Mode
  case object CreateOrReplace extends Mode
}

private[graft] class StagedTxTable(tableName: String, dir: Path,
                                   declared: StructType,
                                   mode: StagedTxTable.Mode)
  extends org.apache.spark.sql.connector.catalog.StagedTable
  with SupportsWrite {

  private val slices =
    java.util.Collections.synchronizedList(
      new java.util.ArrayList[TxTable.StagedData]())

  override def name(): String = s"$tableName (staged)"
  override def schema(): StructType = declared
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_WRITE,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      // CTAS/RTAS may plan the write as truncate+append; staging makes
      // that a no-op distinction — everything lands in the one version
      override def truncate(): WriteBuilder = this
      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, ovw: Boolean): Unit = {
              slices.add(TxTable.stageData(data, dir.toString)): Unit
            }
          }
      }
    }

  override def commitStagedChanges(): Unit = {
    val staged = scala.jdk.CollectionConverters
      .ListHasAsScala(slices).asScala.toSeq
    mode match {
      case StagedTxTable.Create =>
        TxTable.publishStaged(dir.toString, staged, declared.json,
          op = "create", requireVersion = Some(1L)): Unit
      case StagedTxTable.Replace =>
        TxTable.publishStaged(dir.toString, staged, declared.json,
          op = "replace"): Unit
      case StagedTxTable.CreateOrReplace =>
        // decided NOW, under the publish: if the table appeared since
        // staging (a racing writer), the contract says replace it — try
        // the v1 create first with the staged files KEPT on conflict,
        // then retry the same slices as a replace (bounded: replace
        // races are ordinary version conflicts, loud like any commit)
        if (TxTable.latestVersion(dir.toString).isEmpty) {
          try {
            TxTable.publishStaged(dir.toString, staged, declared.json,
              op = "create", requireVersion = Some(1L),
              reclaimOnConflict = false): Unit
            return
          } catch {
            case _: java.nio.file.FileAlreadyExistsException => () // fall through
          }
        }
        TxTable.publishStaged(dir.toString, staged, declared.json,
          op = "replace"): Unit
    }
  }

  override def abortStagedChanges(): Unit = {
    val staged = scala.jdk.CollectionConverters
      .ListHasAsScala(slices).asScala.toSeq
    TxTable.discardStaged(dir.toString, staged)
  }
}

/** The CALL-able maintenance procedures. Each bound procedure's
  * `call(args)` runs ON THE DRIVER (compaction submits its own bounded
  * Spark jobs; vacuum is pure metadata IO) and yields one LocalScan row
  * describing what happened — the lakehouse `CALL system.x` shape. */
private[graft] object TxProcedures {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure, ProcedureParameter, UnboundProcedure}
  import org.apache.spark.sql.connector.read.{LocalScan, Scan}
  import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
  import org.apache.spark.unsafe.types.UTF8String

  private def oneRowScan(schema: StructType, row: InternalRow): util.Iterator[Scan] =
    util.Collections.singletonList(new LocalScan {
      override def readSchema(): StructType = schema
      override def rows(): Array[InternalRow] = Array(row)
    }: Scan).iterator()

  def compact(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "compact"
      override def description(): String =
        "rewrite the current snapshot into ~target_bytes files and commit " +
          "it as a new time-travelable version (TxTable.compact)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "compact"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build(),
            ProcedureParameter.in("target_bytes", LongType)
              .comment("greedy bin-fill target per output file").build())
          override def isDeterministic: Boolean = false // commits a version
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val tbl = args.getUTF8String(0).toString
            val target = args.getLong(1)
            val v = TxTable.compact(SparkSession.active, resolve(tbl).toString,
              target)
            oneRowScan(
              StructType(Seq(StructField("new_version", LongType, false))),
              new GenericInternalRow(Array[Any](v)))
          }
        }
    }

  /** `CALL cat.system.compact_where('db.t', target_bytes, '<pred>')` —
    * predicate-scoped OPTIMIZE without leaving SQL: the predicate
    * string parses and analyzes against the TABLE's schema (full type
    * coercion, so `n > 400` meets a BIGINT column as a BIGINT), splits
    * into conjuncts, and every conjunct must translate to a source
    * filter the stats layer can evaluate — an untranslatable conjunct
    * refuses loudly rather than silently compacting the whole table
    * (a scope that cannot skip is not a scope). */
  def compactWhere(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "compact_where"
      override def description(): String =
        "predicate-scoped compaction: rewrite only files the manifest " +
          "stats/blooms cannot prove predicate-free (TxTable.compact " +
          "scope)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "compact_where"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build(),
            ProcedureParameter.in("target_bytes", LongType)
              .comment("greedy bin-fill target per output file").build(),
            ProcedureParameter.in("where", StringType)
              .comment("SQL predicate over table columns; every " +
                "conjunct must be stats-evaluable").build())
          override def isDeterministic: Boolean = false // commits a version
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val spark = SparkSession.active
            val dir = resolve(args.getUTF8String(0).toString)
            val target = args.getLong(1)
            val filters = parseScope(spark, dir,
              args.getUTF8String(2).toString)
            val v = TxTable.compact(spark, dir.toString, target,
              scope = filters)
            oneRowScan(
              StructType(Seq(StructField("new_version", LongType, false))),
              new GenericInternalRow(Array[Any](v)))
          }
        }
    }

  /** The shared scope front-end of `compact_where` / `zorder_where`:
    * parse + analyze a SQL predicate string against the table's
    * CURRENT schema (full type coercion, so `n > 400` meets a BIGINT
    * column as a BIGINT), fold the coercion casts so literal sides are
    * plain Literals, split into conjuncts, and translate every
    * conjunct into a stats-evaluable source filter — an untranslatable
    * conjunct refuses loudly rather than silently rewriting the whole
    * table (a scope that cannot skip is not a scope). */
  private def parseScope(spark: SparkSession, dir: Path, predStr: String)
      : Seq[org.apache.spark.sql.sources.Filter] = {
    val schema = TxTable.readManifestLite(dir,
      TxTable.headVersion(dir.toString)).schema
    val parsed = spark.sessionState.sqlParser.parseExpression(predStr)
    val attrs = org.apache.spark.sql.catalyst.types.DataTypeUtils
      .toAttributes(schema)
    val analyzed = org.apache.spark.sql.catalyst.optimizer
      .ConstantFolding(spark.sessionState.analyzer.execute(
        org.apache.spark.sql.catalyst.plans.logical.Filter(parsed,
          org.apache.spark.sql.catalyst.plans.logical
            .LocalRelation(attrs))))
    val cond = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter =>
        f.condition
    }.getOrElse(throw new IllegalArgumentException(
      s"predicate '$predStr' analyzed away"))
    TxRowLevel.splitConjuncts(cond).map { c =>
      org.apache.spark.sql.graftbridge.GraftBridge
        .translateFilter(c).getOrElse(
          throw new IllegalArgumentException(
            s"conjunct '${c.sql}' of '$predStr' is not " +
              "stats-evaluable — a scope that cannot skip is " +
              "not a scope"))
    }
  }

  /** `CALL cat.system.zorder_where('db.t', 'x,y', '<pred>', n)` — the
    * Delta `OPTIMIZE WHERE … ZORDER BY` shape: only files the manifest
    * stats/blooms cannot prove predicate-free are rewritten into
    * z-order; everything else carries verbatim
    * ([[TxTable.compactZOrderWhere]]). Composes with hidden
    * partitioning — `days(ts)` tables get 2-D clustering inside one
    * day without touching the rest. */
  def zorderWhere(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "zorder_where"
      override def description(): String =
        "predicate-scoped OPTIMIZE ZORDER: rewrite only in-scope files " +
          "clustered by the Morton interleave of the named columns " +
          "(TxTable.compactZOrderWhere)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "zorder_where"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build(),
            ProcedureParameter.in("z_cols", StringType)
              .comment("comma-separated z-order keys (non-negative " +
                "int/long data columns)").build(),
            ProcedureParameter.in("where", StringType)
              .comment("SQL predicate over table columns; every " +
                "conjunct must be stats-evaluable").build(),
            ProcedureParameter.in("num_files", IntegerType)
              .comment("output file count (range partitions)").build(),
            ProcedureParameter.in("bits", IntegerType).defaultValue("16")
              .comment("interleave bits per z column — keys with values " +
                ">= 2^bits truncate their high bits into noise, so widen " +
                "this for wide-range keys (n_cols * bits must stay <= 63)")
              .build())
          override def isDeterministic: Boolean = false // commits a version
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val spark = SparkSession.active
            val dir = resolve(args.getUTF8String(0).toString)
            val zCols = args.getUTF8String(1).toString.split(',')
              .map(_.trim).filter(_.nonEmpty).toSeq
            require(zCols.nonEmpty, "z_cols must name at least one column")
            val filters = parseScope(spark, dir,
              args.getUTF8String(2).toString)
            val v = TxTable.compactZOrderWhere(spark, dir.toString,
              zCols, filters, args.getInt(3), bits = args.getInt(4))
            oneRowScan(
              StructType(Seq(StructField("new_version", LongType, false))),
              new GenericInternalRow(Array[Any](v)))
          }
        }
    }

  def zorder(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "zorder"
      override def description(): String =
        "OPTIMIZE ZORDER: rewrite the current snapshot clustered by the " +
          "Morton interleave of two columns, so per-file min/max stats " +
          "prune on either predicate (TxTable.compactZOrder)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "zorder"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build(),
            ProcedureParameter.in("x_col", StringType)
              .comment("first z-order key (non-negative int/long)").build(),
            ProcedureParameter.in("y_col", StringType)
              .comment("second z-order key (non-negative int/long)").build(),
            ProcedureParameter.in("num_files", IntegerType)
              .comment("output file count (range partitions)").build(),
            ProcedureParameter.in("bits", IntegerType).defaultValue("16")
              .comment("interleave bits per z column — keys with values " +
                ">= 2^bits truncate their high bits into noise, so widen " +
                "this for wide-range keys (2 * bits must stay <= 63)")
              .build())
          override def isDeterministic: Boolean = false // commits a version
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val tbl = args.getUTF8String(0).toString
            val v = TxTable.compactZOrder(SparkSession.active,
              resolve(tbl).toString, args.getUTF8String(1).toString,
              args.getUTF8String(2).toString, args.getInt(3),
              bits = args.getInt(4))
            oneRowScan(
              StructType(Seq(StructField("new_version", LongType, false))),
              new GenericInternalRow(Array[Any](v)))
          }
        }
    }

  def restore(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "restore"
      override def description(): String =
        "roll the table back to a retained version by committing its " +
          "snapshot as the new head — append-only history, zero data " +
          "movement (TxTable.restore)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "restore"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build(),
            ProcedureParameter.in("version", LongType)
              .comment("retained version to restore").build())
          override def isDeterministic: Boolean = false
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val tbl = args.getUTF8String(0).toString
            val v = TxTable.restore(resolve(tbl).toString, args.getLong(1))
            oneRowScan(
              StructType(Seq(StructField("new_version", LongType, false))),
              new GenericInternalRow(Array[Any](v)))
          }
        }
    }

  def checkpoint(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "checkpoint"
      override def description(): String =
        "force-materialize a checkpoint at the latest version — the " +
          "repair for a log whose periodic checkpoint writes failed " +
          "(TxTable.checkpoint); idempotent"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "checkpoint"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build())
          override def isDeterministic: Boolean = false // writes a file
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val tbl = args.getUTF8String(0).toString
            val v = TxTable.checkpoint(resolve(tbl).toString)
            oneRowScan(
              StructType(Seq(
                StructField("checkpointed_version", LongType, false))),
              new GenericInternalRow(Array[Any](v)))
          }
        }
    }

  /** `CALL cat.system.clone('db.src', 'db.dst' [, version])` — commit
    * `db.dst`'s v1 as a zero-copy reference to the source snapshot
    * ([[TxTable.cloneSnapshot]] has the full contract: nothing copied,
    * stats carried, blooms rebuilt on rewrite, the source-side vacuum
    * hazard, DV refusal). `version` NULL (the default) clones the
    * source's latest. */
  def clone(resolve: String => Path,
            resolveNew: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "clone"
      override def description(): String =
        "zero-copy shallow clone: commit the target's v1 as a manifest " +
          "referencing the source snapshot's files " +
          "(TxTable.cloneSnapshot)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "clone"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("source", StringType)
              .comment("dotted source table under the warehouse root")
              .build(),
            ProcedureParameter.in("target", StringType)
              .comment("dotted target table name (must not exist)")
              .build(),
            ProcedureParameter.in("version", LongType)
              .defaultValue("NULL")
              .comment("source version to clone; NULL = latest").build())
          override def isDeterministic: Boolean = false // commits v1
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val src = resolve(args.getUTF8String(0).toString)
            val dst = resolveNew(args.getUTF8String(1).toString)
            val version =
              if (args.isNullAt(2)) None else Some(args.getLong(2))
            val v = TxTable.cloneSnapshot(src.toString, dst.toString,
              version)
            oneRowScan(
              StructType(Seq(StructField("cloned_version", LongType,
                false))),
              new GenericInternalRow(Array[Any](v)))
          }
        }
    }

  /** `CALL cat.system.tag('db.t', 'release-1', v)` — pin a committed
    * version under an immutable name ([[TxTable.tag]]): SQL time
    * travel resolves it (`VERSION AS OF 'release-1'`) and vacuum never
    * expires it until [[dropTag]]. */
  def tag(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "tag"
      override def description(): String =
        "pin a committed version under an immutable tag name — " +
          "resolvable by VERSION AS OF '<name>', vacuum-protected " +
          "until drop_tag (TxTable.tag)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "tag"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build(),
            ProcedureParameter.in("name", StringType)
              .comment("tag name (letters, digits, '-', '_', '.')").build(),
            ProcedureParameter.in("version", LongType)
              .comment("committed version to pin").build())
          override def isDeterministic: Boolean = false // writes a ref
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val tbl = args.getUTF8String(0).toString
            val nm = args.getUTF8String(1).toString
            val v = args.getLong(2)
            TxTable.tag(resolve(tbl).toString, nm, v)
            oneRowScan(
              StructType(Seq(StructField("tagged_version", LongType,
                false))),
              new GenericInternalRow(Array[Any](v)))
          }
        }
    }

  def dropTag(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "drop_tag"
      override def description(): String =
        "remove a tag — its version becomes expirable by the next " +
          "vacuum like any other (TxTable.dropTag)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "drop_tag"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build(),
            ProcedureParameter.in("name", StringType)
              .comment("tag to remove").build())
          override def isDeterministic: Boolean = false // deletes a ref
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val tbl = args.getUTF8String(0).toString
            val nm = args.getUTF8String(1).toString
            TxTable.dropTag(resolve(tbl).toString, nm)
            oneRowScan(
              StructType(Seq(StructField("dropped", org.apache.spark.sql
                .types.BooleanType, false))),
              new GenericInternalRow(Array[Any](true)))
          }
        }
    }

  def vacuum(resolve: String => Path): UnboundProcedure =
    new UnboundProcedure {
      override def name(): String = "vacuum"
      override def description(): String =
        "expire versions older than the newest `retain` manifests and " +
          "reclaim unreferenced data files (TxTable.vacuum)"
      override def bind(inputType: StructType): BoundProcedure =
        new BoundProcedure {
          override def name(): String = "vacuum"
          override def parameters(): Array[ProcedureParameter] = Array(
            ProcedureParameter.in("table", StringType)
              .comment("dotted table name under the warehouse root").build(),
            ProcedureParameter.in("retain", IntegerType)
              .comment("how many newest versions stay readable").build(),
            ProcedureParameter.in("min_age_ms", LongType)
              .comment("orphan-file age guard; 0 only for quiesced tables")
              .build(),
            ProcedureParameter.in("retain_age_ms", LongType)
              .defaultValue("NULL")
              .comment("age-based retention (Iceberg expire_snapshots " +
                "older_than): a version expires only if also published " +
                "before now - retain_age_ms; NULL = count-based only")
              .build())
          override def isDeterministic: Boolean = false
          override def call(args: InternalRow): util.Iterator[Scan] = {
            val tbl = args.getUTF8String(0).toString
            val stats = TxTable.vacuum(resolve(tbl).toString, args.getInt(1),
              args.getLong(2),
              if (args.isNullAt(3)) None else Some(args.getLong(3)))
            oneRowScan(
              StructType(Seq(
                StructField("expired_versions", StringType, false),
                StructField("deleted_files", LongType, false),
                StructField("deleted_bytes", LongType, false))),
              new GenericInternalRow(Array[Any](
                UTF8String.fromString(stats.expiredVersions.mkString(",")),
                stats.deletedFiles, stats.deletedBytes)))
          }
        }
    }
}

