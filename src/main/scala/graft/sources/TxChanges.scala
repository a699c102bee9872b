package graft.sources

import java.nio.file.Paths

import org.apache.spark.sql.{DataFrame, SparkSession, functions}
import org.apache.spark.sql.types.StructType

/** Batch change-data-feed between two committed versions — the Delta
  * `table_changes` shape: every row that logically entered or left the
  * table in `(fromV, toV]`, tagged `_change_type` ('insert' | 'delete'
  * | 'update_preimage' | 'update_postimage') and `_commit_version`.
  *
  * Cost is bounded by CHANGED files per version, never table size:
  *
  *   - `append`/`create`/v1: the added files read directly — 'insert',
  *     no comparison at all (the streaming CDF's arm, reused batch).
  *   - merge-on-read `delete`/`update`/`merge` (data files carried,
  *     sidecars grown): the removed rows are EXACTLY the new sidecars'
  *     tombstones — one left-semi join over only the affected files;
  *     an update's postimage is the appended copy files read directly.
  *     The MoR representation makes an exact CDC nearly free, which is
  *     the point of choosing it at 100 TB.
  *   - copy-on-write rewrites (`delete`/`update`/`merge`/`overwrite`/
  *     `restore`): a multiset `exceptAll` both ways over ONLY the
  *     files that differ between the two manifests (plus files whose
  *     tombstone set changed), each side under its own version's
  *     deletion vectors. Rows in untouched files are byte-identical on
  *     both sides and never read.
  *   - `compact`/`zorder`/`purge`/`constraint`/`property`: rows are
  *     unchanged by construction — no change rows, zero IO.
  *
  * Update versions label pre/postimage; other rewrites label
  * 'delete'/'insert' (a MERGE's tombstoned row may be either an update
  * or a delete — without per-row provenance the multiset labels are
  * the honest ones). The feed is served in `toV`'s schema: evolution
  * on this table is by-name adds/drops only, and every read here is an
  * explicit-schema parquet read — files written under an older schema
  * resolve by name (absent columns read NULL), the same contract the
  * snapshot reads rely on — so a range may span `evolve` versions
  * (which themselves emit nothing: no files move, no rows change). */
object TxChanges {

  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  def between(spark: SparkSession, tableDir: String, fromV: Long,
              toV: Long): DataFrame = {
    require(fromV >= 0 && fromV < toV,
      s"need 0 <= fromV < toV, got ($fromV, $toV]")
    val root = Paths.get(tableDir)
    // fromV = 0 serves the whole history: v1's snapshot is its own
    // insert set, no prior manifest needed.
    // lite reads, SLIDING PAIR: the diff only ever consumes adjacent
    // (prev, cur) manifests, so at most two are eagerly resident — a
    // 20k-version range over 100k-file manifests must not hold every
    // file list + stats map on the driver at once (the change frames
    // below capture only the per-version CHANGED-file slices)
    val headM = TxTable.readManifestLite(root, toV)
    val schema = headM.schema
    // reserved feed columns: a data column with either name would be
    // silently OVERWRITTEN by the tagging withColumn — refuse loudly
    // (the Delta table_changes contract)
    Seq(ChangeTypeCol, CommitVersionCol).foreach(c => require(
      !schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"cannot serve changes of $tableDir: its schema already has a " +
        s"'$c' column, which the feed reserves"))
    // served in toV's schema AND column mapping: physical file names
    // never change across renames, so older versions' files read
    // correctly under the newest mapping
    val mapping = headM.columnMapping

    def tagged(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.withColumn(ChangeTypeCol, functions.lit(tpe))
        .withColumn(CommitVersionCol, functions.lit(v))

    /** `partCols` is the layout of the MANIFEST the files belong to —
      * a range spanning a partition relayout must parse each version's
      * files under that version's own layout, never toV's. A layout
      * column that toV's schema no longer carries (an overwrite
      * relayout dropped it) cannot be SERVED either — the feed's
      * contract is toV's schema — so it is not attached (the files'
      * data columns still read by name; without the filter the value
      * cast crashed on the missing field). */
    def read(fs: Seq[String], dvDirs: Seq[String],
             partCols: Seq[String]): DataFrame =
      TxTable.readSnapshotFiles(spark, tableDir, schema,
        partCols.filter(c => schema.fieldNames.contains(c)), fs,
        dvDirs, mapping = mapping)

    /** Files among `fs` that any of `dvDirs`' tombstones reference. */
    def bearing(fs: Seq[String], dvDirs: Seq[String]): Seq[String] = {
      val keys = TxTable.readDvFrame(spark, root, dvDirs)
        .select("file").distinct().collect().map(_.getString(0)).toSet
      fs.filter(e =>
        keys.contains(e) || keys.exists(_.startsWith(e + "/")))
    }

    /** Rows of `prev`'s snapshot tombstoned by exactly the sidecars
      * added at this version: a left-semi of the affected files
      * against the new tombstones. */
    def tombstonedRows(prev: TxTable.Manifest,
                       newDvs: Seq[String]): DataFrame = {
      val rows = TxTable.readSnapshotFiles(spark, tableDir, schema,
        TxTransforms.identityNames(prev), bearing(prev.files, newDvs),
        prev.dvDirs,
        dvMeta = true, mapping = mapping)
      val dv = TxTable.readDvFrame(spark, root, newDvs)
      rows.join(dv,
          rows(TxTable.DvFileCol) === dv("file") &&
            rows(TxTable.DvPosCol) === dv("pos"), "left_semi")
        .select(schema.fieldNames.toSeq.map(functions.col): _*)
    }

    def changesAt(v: Long, prev: TxTable.Manifest,
                  cur: TxTable.Manifest): Seq[DataFrame] = {
      val (prevSet, curSet) = (prev.files.toSet, cur.files.toSet)
      val removed = prev.files.filterNot(curSet)
      val added = cur.files.filterNot(prevSet)
      val newDvs = cur.dvDirs.filterNot(prev.dvDirs.toSet)
      val dvChanged = newDvs ++ prev.dvDirs.filterNot(cur.dvDirs.toSet)
      val morShape = removed.isEmpty && newDvs.nonEmpty &&
        dvChanged.size == newDvs.size
      cur.op match {
        case "compact" | "zorder" | "purge" | "constraint" |
             "property" | "evolve" | "rename" | "widen" =>
          Nil // bytes move or metadata shifts, rows don't
        // `stream:<appId>:<batchId>` is the exactly-once sink's append
        // label (TxSink) — it must take the direct-read insert arm, not
        // the exceptAll comparison (a sink-written table is exactly the
        // thousands-of-append-versions shape the cost model is for)
        case op2 if op2 == "append" || op2 == "create" ||
            op2.startsWith("stream:") =>
          if (added.isEmpty) Nil
          else Seq(tagged(read(added, Nil,
            TxTransforms.identityNames(cur)), "insert", v))
        case "delete" if morShape && added.isEmpty =>
          Seq(tagged(tombstonedRows(prev, newDvs), "delete", v))
        case "update" if morShape =>
          Seq(tagged(tombstonedRows(prev, newDvs), "update_preimage", v),
            tagged(read(added, Nil, TxTransforms.identityNames(cur)),
              "update_postimage", v))
        case "merge" if morShape =>
          Seq(tagged(tombstonedRows(prev, newDvs), "delete", v),
            tagged(read(added, Nil, TxTransforms.identityNames(cur)),
              "insert", v))
        case op =>
          // generic copy-on-write arm: compare only what changed —
          // swapped files plus carried files whose tombstone set
          // changed — each side under its own version's tombstones
          // AND its own partition layout (an overwrite may relayout).
          // Spark's set operations reject MapType columns, so a
          // map-schema'd table refuses THIS arm loudly (the insert-only
          // arms above still serve) instead of an opaque
          // AnalysisException mid-plan
          def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean =
            dt match {
              case _: org.apache.spark.sql.types.MapType => true
              case s: StructType => s.fields.exists(f => hasMap(f.dataType))
              case a: org.apache.spark.sql.types.ArrayType =>
                hasMap(a.elementType)
              case _ => false
            }
          require(!hasMap(schema),
            s"version $v of $tableDir is a '$op' rewrite and the schema " +
              "carries a map-typed column — multiset row diffs (Spark " +
              "set operations) cannot compare maps; serve the rewrite " +
              "through the streaming CDC arm (tx.changeDataFeed) instead")
          val dFiles =
            if (dvChanged.isEmpty) Nil
            else bearing(prev.files.filter(curSet), dvChanged)
          val before =
            read(removed ++ dFiles, prev.dvDirs,
              TxTransforms.identityNames(prev))
          val after =
            read(added ++ dFiles, cur.dvDirs,
              TxTransforms.identityNames(cur))
          val (preT, postT) =
            if (op == "update") ("update_preimage", "update_postimage")
            else ("delete", "insert")
          Seq(tagged(before.exceptAll(after), preT, v),
            tagged(after.exceptAll(before), postT, v))
      }
    }

    var prevM: TxTable.Manifest = null
    val parts = ((fromV + 1) to toV).flatMap { v =>
      val cur =
        if (v == toV) headM else TxTable.readManifestLite(root, v)
      val out =
        if (v == 1L) {
          // everything in a fresh table is an insert (and v1 cannot
          // carry tombstones — nothing preceded it to delete from)
          if (cur.files.isEmpty) Nil
          else Seq(tagged(read(cur.files, cur.dvDirs,
            TxTransforms.identityNames(cur)), "insert", v))
        } else {
          val p =
            if (prevM != null) prevM
            else TxTable.readManifestLite(root, v - 1)
          changesAt(v, p, cur)
        }
      prevM = cur
      out
    }
    if (parts.isEmpty)
      tagged(read(Nil, Nil, TxTransforms.identityNames(headM)),
        "insert", toV).limit(0)
    else parts.reduce(_ unionByName _)
  }
}
