package graft.sources

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, AttributeSet, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, InsertAction, LogicalPlan, MergeAction, MergeIntoTable, OverwritePartitionsDynamic, SubqueryAlias, UpdateAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge
import org.apache.spark.sql.types.StructField

/** SQL `UPDATE` and `MERGE INTO` on the tx catalog — the other half of
  * row-level ops next to [[TxTable.deleteWhere]], as stats-pruned
  * copy-on-write commands (the Delta architecture: a resolution rule
  * swaps the analyzed `UpdateTable`/`MergeIntoTable` nodes for runnable
  * commands that drive the rewrite with DataFrame ops — no custom
  * physical writer, Spark's own parquet write path stages the files).
  *
  * Cost shape at 100 TB, both commands:
  *  - CANDIDATE SELECTION is O(files) driver metadata: the predicate's
  *    conjuncts run against manifest min/max stats and blooms (UPDATE:
  *    the WHERE clause; MERGE: per equi-conjunct `t.k = s.k` bounds
  *    `[min(s.k), max(s.k)]` measured from the source in one tiny
  *    aggregate — the dynamic-file-pruning idea with the manifest as
  *    the index). Files that provably hold no matching row carry
  *    forward VERBATIM — stats, blooms, zero IO.
  *  - The REWRITE is one distributed read over only the candidate
  *    files, the row transform, one distributed staged write, one OCC
  *    manifest publish (staged files reclaimed on a lost race). An
  *    UPDATE or MERGE that provably touches nothing commits NO version.
  *
  * MERGE semantics (ANSI): first-match-wins across each clause list;
  * WHEN MATCHED AND/UPDATE/DELETE, WHEN NOT MATCHED AND/INSERT, WHEN
  * NOT MATCHED BY SOURCE AND/UPDATE/DELETE all supported; a target row
  * matched by MORE than one source row refuses loudly when any MATCHED
  * clause exists (the standard's cardinality violation — silently
  * picking one source row corrupts data); `WITH SCHEMA EVOLUTION` and
  * nested-field assignments refuse loudly. When NOT MATCHED BY SOURCE
  * clauses exist, every file is a candidate by construction (unmatched
  * rows live anywhere), so that clause class is the one that cannot
  * prune — documented price, same as Delta.
  *
  * The commands capture ANALYZED expressions; attribute references are
  * rebound BY NAME onto the re-read candidate frame (target) and the
  * renamed source frame (`__s_` prefix), so the rewrite plan is plain
  * DataFrame logic Catalyst optimizes like any other query.
  */
private[graft] object TxRowLevel {

  /** Unwrap the (possibly aliased) DSv2 relation over a [[TxSqlTable]]. */
  private def txRelation(plan: LogicalPlan)
      : Option[(DataSourceV2Relation, TxSqlTable)] = plan match {
    case r: DataSourceV2Relation => r.table match {
      case t: TxSqlTable => Some((r, t))
      case _ => None
    }
    case SubqueryAlias(_, child) => txRelation(child)
    case _ => None
  }

  private def requireWritable(tx: TxSqlTable, op: String): Unit =
    require(tx.isWritableHandle,
      s"$op on a time-travel handle of ${tx.name()} — only the latest " +
        "version is writable (a rewrite always commits the next " +
        "version, so offering it on a snapshot would be a lie)")

  private def refuseSubqueries(es: Iterable[Expression], op: String): Unit =
    es.foreach(e => require(
      !e.exists(_.isInstanceOf[SubqueryExpression]),
      s"$op on the tx catalog does not support subqueries in " +
        "conditions — materialize the subquery into the source/a view"))

  /** The post-hoc resolution rule: analyzed UPDATE/MERGE over a tx
    * table becomes the matching runnable command (executed eagerly by
    * the command framework); every other table passes through to
    * Spark's own (unsupported-feature) path untouched. */
  final case class RowLevelRule(session: SparkSession)
      extends Rule[LogicalPlan] {
    override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
      case u @ UpdateTable(tbl, assignments, cond) if u.resolved =>
        txRelation(tbl) match {
          case Some((rel, tx)) =>
            requireWritable(tx, "UPDATE")
            refuseSubqueries(cond ++ assignments.map(_.value), "UPDATE")
            TxUpdateCommand(tx.tablePath.toString, rel.output,
              assignments, cond)
          case None => u
        }
      case o @ OverwritePartitionsDynamic(tbl, query, _, _, _)
          if o.resolved =>
        txRelation(tbl) match {
          case Some((_, tx)) =>
            // INSERT OVERWRITE under partitionOverwriteMode=dynamic:
            // Spark plans OverwritePartitionsDynamic (TxSqlTable
            // reports its partitioning), but ships no V1 fallback exec
            // for it — so the analyzed plan becomes the engine's own
            // command, the same post-hoc conversion UPDATE/MERGE use.
            // ResolveInsertInto already aligned the query to the table
            // column order; commit("dynoverwrite") replaces exactly
            // the partitions present in the frame.
            requireWritable(tx, "INSERT OVERWRITE (dynamic)")
            TxDynOverwriteCommand(tx.tablePath.toString, query)
          case None => o
        }
      case m: MergeIntoTable if m.resolved =>
        txRelation(m.targetTable) match {
          case Some((rel, tx)) =>
            requireWritable(tx, "MERGE INTO")
            // `WITH SCHEMA EVOLUTION` on an UNPARTITIONED table was
            // already honored upstream: TxSqlTable advertises
            // AUTOMATIC_SCHEMA_EVOLUTION, so Spark's
            // ResolveMergeIntoSchemaEvolution computed the
            // source-minus-target delta, committed it through
            // TxCatalog.alterTable → TxTable.evolveColumns, and
            // reloaded this relation with the evolved schema. On a
            // PARTITIONED table that capability is withheld (Spark's
            // post-evolution exprId remapping is POSITIONAL and
            // assumes new columns append at the END — TxSqlTable
            // .capabilities scaladoc), so the evolution happens HERE
            // instead, position-blind: the statement resolved against
            // the pre-evolution schema (star expansion covers the old
            // columns; the extra source columns ride along unused),
            // one evolveColumns commit adds the source-only columns
            // (before the partition columns, as every evolve does),
            // and the star-shaped actions — those assigning EVERY old
            // target column — are extended by-name with the new
            // columns from the source. Partial assignment lists leave
            // the new columns NULL, and a shared column whose type
            // differs keeps plain-merge cast semantics (widen
            // deliberately with ALTER COLUMN TYPE first). The command
            // below re-reads the evolved manifest and rebinds
            // everything by name, so position never enters.
            // The evolution COMMIT happens inside the command's run(),
            // never here at analysis time — EXPLAIN MERGE, a plan
            // built and discarded, or a statement refused at analysis
            // must leave the table untouched (the r20 review found the
            // old in-rule commit violated exactly that); a merge
            // refused at RUNTIME (cardinality/constraint) may still
            // leave the additive, nullable evolve version behind — the
            // documented residue of the two-commit shape.
            refuseSubqueries(Seq(m.mergeCondition) ++
              (m.matchedActions ++ m.notMatchedActions ++
                m.notMatchedBySourceActions).flatMap(actExprs),
              "MERGE INTO")
            val (targetOut, matchedA, notMatchedA, evolveAdd) =
              if (m.withSchemaEvolution && tx.partitioning().nonEmpty) {
                val tgtNames =
                  rel.output.map(_.name.toLowerCase).toSet
                val newCols = m.sourceTable.output
                  .filterNot(a => tgtNames(a.name.toLowerCase))
                if (newCols.isEmpty)
                  (rel.output, m.matchedActions, m.notMatchedActions,
                    Seq.empty[StructField])
                else {
                  val synth = newCols.map(a =>
                    AttributeReference(a.name, a.dataType,
                      nullable = true)())
                  val extra = synth.zip(newCols)
                    .map { case (k, v) => Assignment(k, v) }
                  val full = rel.output.size
                  def extend(acts: Seq[MergeAction]): Seq[MergeAction] =
                    acts.map {
                      // UPDATE carries star provenance — an EXPLICIT
                      // list that happens to cover every old column
                      // must leave the new columns NULL, never receive
                      // source data the user did not assign; INSERT
                      // loses the flag at resolution, so the
                      // all-columns heuristic is the best available
                      case UpdateAction(c, as, true) =>
                        UpdateAction(c, as ++ extra, fromStar = true)
                      case InsertAction(c, as) if as.size == full =>
                        InsertAction(c, as ++ extra)
                      case other => other
                    }
                  (rel.output ++ synth, extend(m.matchedActions),
                    extend(m.notMatchedActions),
                    newCols.map(a => StructField(a.name, a.dataType,
                      nullable = true)))
                }
              } else (rel.output, m.matchedActions, m.notMatchedActions,
                Seq.empty[StructField])
            TxMergeCommand(tx.tablePath.toString, targetOut,
              m.sourceTable, m.mergeCondition, matchedA,
              notMatchedA, m.notMatchedBySourceActions, evolveAdd)
          case None => m
        }
    }
  }

  private def actExprs(a: MergeAction): Seq[Expression] = a match {
    case UpdateAction(c, as, _) => c.toSeq ++ as.flatMap(x => Seq(x.key, x.value))
    case InsertAction(c, as) => c.toSeq ++ as.flatMap(x => Seq(x.key, x.value))
    case DeleteAction(c) => c.toSeq
    case other => throw new UnsupportedOperationException(
      s"unsupported MERGE action: $other")
  }

  /** Rebind an analyzed expression onto the rewrite frames: target
    * attributes by plain (quoted) name, source attributes by their
    * `__s_` rename. Anything else left in the tree is a bug — refuse. */
  private[sources] def rebind(e: Expression, tgt: AttributeSet,
                     src: AttributeSet): Column =
    GraftBridge.column(e.transform {
      case a: AttributeReference if tgt.contains(a) =>
        UnresolvedAttribute.quoted(a.name)
      case a: AttributeReference if src.contains(a) =>
        UnresolvedAttribute.quoted(SrcPrefix + a.name)
      case a: AttributeReference => throw new IllegalStateException(
        s"MERGE/UPDATE expression references neither side: $a")
    })

  private[sources] val SrcPrefix = "__s_"
  private[sources] val Tid = "__graft_tid"
  private[sources] val SMark = "__graft_sm"

  private[sources] def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** First-match-wins clause chain: WHEN cond₁ → act₁ ELSE WHEN cond₂ →
    * act₂ … ELSE default — the ANSI clause-order contract as one nested
    * CASE (a missing AND is `true`; a NULL AND is `false`). */
  private[sources] def firstMatch(actions: Seq[MergeAction],
                         condOf: MergeAction => Option[Expression],
                         onAction: MergeAction => Column,
                         default: Column,
                         bind: Expression => Column): Column =
    actions.foldRight(default) { (a, rest) =>
      val c = condOf(a).map(e => coalesce(bind(e), lit(false)))
        .getOrElse(lit(true))
      when(c, onAction(a)).otherwise(rest)
    }

  private[sources] def actCond(a: MergeAction): Option[Expression] = a match {
    case UpdateAction(c, _, _) => c
    case InsertAction(c, _) => c
    case DeleteAction(c) => c
    case other => throw new UnsupportedOperationException(
      s"unsupported MERGE action: $other")
  }

  /** The assigned value for `field` under `a`, cast to the exact column
    * type (Spark aligns+casts MERGE assignments itself, but UPDATE's
    * unaligned SET list and defensive exactness both want the cast);
    * an action that does not assign the field keeps `fallback`. */
  private[sources] def assignedValue(as: Seq[Assignment], field: StructField,
                            tgt: AttributeSet, fallback: Column,
                            bind: Expression => Column): Column =
    as.find(_.key match {
      case k: AttributeReference => tgt.contains(k) && k.name == field.name
      case _ => false
    }) match {
      case Some(Assignment(_, v)) => bind(v).cast(field.dataType)
      case None =>
        as.collectFirst { case Assignment(k, _)
            if !k.isInstanceOf[AttributeReference] => k }
          .foreach(k => throw new UnsupportedOperationException(
            s"nested-field assignment is not supported on the tx " +
              s"catalog (key $k) — assign the whole top-level column"))
        fallback
    }
}

/** `UPDATE <tx table> SET … WHERE …` as a stats-pruned copy-on-write
  * commit ([[TxRowLevel]] scaladoc). An update whose predicate provably
  * touches NO file commits NO version — the metadata no-op contract
  * `deleteWhere` set. */
private[graft] final case class TxUpdateCommand(
    tableDir: String,
    targetOutput: Seq[Attribute],
    assignments: Seq[Assignment],
    condition: Option[Expression]) extends LeafRunnableCommand {
  import TxRowLevel._

  override def run(spark: SparkSession): Seq[Row] = {
    val v = TxTable.headVersion(tableDir)
    val m = TxTable.readManifest(java.nio.file.Paths.get(tableDir), v)
    val schema = m.schema
    val tgt = AttributeSet(targetOutput)
    val bind: Expression => Column =
      e => rebind(e, tgt, AttributeSet.empty)
    val filters = condition.toSeq.flatMap(splitConjuncts)
      .flatMap(GraftBridge.translateFilter)
    // an unconditional UPDATE has no filters: every file is touched
    val (touched, untouched) = TxTable.partitionFiles(m, filters)
    if (touched.isEmpty) return Seq.empty // provably nothing to update
    val cond = condition.map(bind)
      .map(c => coalesce(c, lit(false))).getOrElse(lit(true))
    // merge-on-read UPDATE (tx.deletionVectors=true): tombstone exactly
    // the matched rows and stage ONLY their updated copies as appended
    // files — one version, every data file unchanged, cost ∝ updated
    // rows instead of touched-file bytes (copy-on-write re-copies every
    // non-matching row of every candidate file). The matching scan and
    // the copy staging are two passes over the same deterministic
    // filter of immutable files, so they agree under recomputation.
    if (m.properties.get(TxTable.DvProperty).contains("true")) {
      val root = java.nio.file.Paths.get(tableDir)
      val matched = TxTable.readSnapshotFiles(spark, tableDir, schema,
          TxTransforms.identityNames(m), touched, m.dvDirs, dvMeta = true,
          mapping = m.columnMapping)
        .filter(cond)
      val dvRel = TxTable.writeDvSidecar(spark, root, matched, "UPDATE")
        match {
          case None => return Seq.empty // matched nothing: no version
          case Some(rel) => rel
        }
      val copies = matched.select(schema.fields.toSeq.map(f =>
        assignedValue(assignments, f, tgt, fallback = col(f.name), bind)
          .as(f.name)): _*)
      val cdf = matched
        .select(schema.fieldNames.toSeq.map(col): _*)
        .withColumn(TxChanges.ChangeTypeCol, lit("update_preimage"))
        .unionByName(copies.withColumn(TxChanges.ChangeTypeCol,
          lit("update_postimage")))
      // a failed publish (constraint violation, version conflict) must
      // not leave a live-looking sidecar next to the staged reclaim
      try TxTable.replaceFiles(spark, tableDir, m, untouched = m.files,
        copies, "update", dvDirs = Some(m.dvDirs :+ dvRel),
        rowLevelRebase = Some((filters, touched)),
        changeData = Some(cdf)): Unit
      catch {
        case e: Throwable =>
          try TxTable.deleteRecursively(root.resolve(dvRel))
          catch { case _: Exception => () }
          throw e
      }
      return Seq.empty
    }
    val rewritten = TxTable.readSnapshotFiles(spark, tableDir, schema,
        TxTransforms.identityNames(m), touched, m.dvDirs,
        mapping = m.columnMapping)
      .select(schema.fields.toSeq.map { f =>
        assignedValue(assignments, f, tgt, fallback = col(f.name), bind)
          match {
            case set if assignments.exists(_.key match {
              case k: AttributeReference => k.name == f.name
              case _ => false
            }) => when(cond, set).otherwise(col(f.name)).as(f.name)
            case _ => col(f.name).as(f.name)
          }
      }: _*)
    // CDF change frame: the rows the condition matches, before and
    // after the assignment (staged only on tx.changeDataFeed tables —
    // persist() is lazy, so a non-CDF table never materializes this;
    // on a CDF table the pre/postimage union reads the matched rows
    // from cache instead of re-scanning every candidate file twice)
    val cdfMatched = TxTable.readSnapshotFiles(spark, tableDir, schema,
        TxTransforms.identityNames(m), touched, m.dvDirs,
        mapping = m.columnMapping)
      .filter(cond).persist()
    try {
      val cdf = cdfMatched
        .select(schema.fieldNames.toSeq.map(col): _*)
        .withColumn(TxChanges.ChangeTypeCol, lit("update_preimage"))
        .unionByName(cdfMatched.select(schema.fields.toSeq.map(f =>
            assignedValue(assignments, f, tgt, fallback = col(f.name),
              bind).as(f.name)): _*)
          .withColumn(TxChanges.ChangeTypeCol, lit("update_postimage")))
      TxTable.replaceFiles(spark, tableDir, m, untouched, rewritten,
        "update", rowLevelRebase = Some((filters, touched)),
        changeData = Some(cdf))
    } finally cdfMatched.unpersist(): Unit
    Seq.empty
  }
}

/** `MERGE INTO <tx table> USING <source> ON …` as a stats-pruned
  * copy-on-write commit ([[TxRowLevel]] scaladoc). Candidate files come
  * from the ON clause's equi-conjuncts bounded by the source's measured
  * min/max; the rewrite is ONE pass over the full-outer join (matched /
  * not-matched / not-matched-by-source all decided per row by null
  * markers), and a MERGE that touches no file and inserts no row
  * commits no version. */
private[graft] final case class TxMergeCommand(
    tableDir: String,
    targetOutput: Seq[Attribute],
    source: LogicalPlan,
    mergeCondition: Expression,
    matchedActions: Seq[MergeAction],
    notMatchedActions: Seq[MergeAction],
    notMatchedBySourceActions: Seq[MergeAction],
    evolveAdd: Seq[StructField] = Nil)
  extends LeafRunnableCommand {
  import TxRowLevel._

  override def run(spark: SparkSession): Seq[Row] = {
    // `WITH SCHEMA EVOLUTION` commits HERE, at execution — never at
    // analysis (an EXPLAIN must not evolve the table); idempotent when
    // the columns already landed (a re-analyzed retry)
    if (evolveAdd.nonEmpty) {
      val v0 = TxTable.headVersion(tableDir)
      val cur = TxTable.readManifestLite(
        java.nio.file.Paths.get(tableDir), v0).schema
      val missing = evolveAdd.filterNot(f =>
        cur.fieldNames.exists(_.equalsIgnoreCase(f.name)))
      if (missing.nonEmpty)
        TxTable.evolveColumns(spark, tableDir, add = missing): Unit
    }
    val v = TxTable.headVersion(tableDir)
    val m = TxTable.readManifest(java.nio.file.Paths.get(tableDir), v)
    val schema = m.schema
    val tgt = AttributeSet(targetOutput)
    val srcAttrs = AttributeSet(source.output)
    require(!schema.fieldNames.exists(_.startsWith(SrcPrefix)),
      s"target columns may not start with the reserved '$SrcPrefix'")
    // the synthetic row-id / source-marker columns must not collide
    // with data columns — readSnapshotFiles' withColumn would silently
    // REPLACE the data column with the synthetic id
    Seq(Tid, SMark).foreach(c => require(
      !schema.fieldNames.exists(_.equalsIgnoreCase(c)),
      s"target columns may not use the reserved name '$c'"))
    val srcNames = source.output.map(_.name)
    require(srcNames.distinct.size == srcNames.size,
      s"MERGE source has duplicate column names: ${srcNames.mkString(", ")}")
    val bind: Expression => Column = e => rebind(e, tgt, srcAttrs)

    val srcDf = GraftBridge.ofRows(spark, source).toDF(
      srcNames.map(SrcPrefix + _): _*).persist()
    var joinedCache: Option[DataFrame] = None
    try {

    // ---- candidate files: equi-conjunct bounds measured from the source
    val rewritesTarget =
      matchedActions.nonEmpty || notMatchedBySourceActions.nonEmpty
    // merge-on-read (tx.deletionVectors=true): candidate files are
    // JOINED but never rewritten — affected rows tombstone, their
    // updated copies + inserts append (insert-only merges need neither)
    val morEnabled = rewritesTarget &&
      m.properties.get(TxTable.DvProperty).contains("true")
    // one driver job measures EVERY equi-conjunct's bounds (k
    // sequential agg jobs were k× the candidate-selection latency on a
    // large source)
    val equiPairs: Seq[(AttributeReference, Expression)] =
      if (notMatchedBySourceActions.nonEmpty) Seq.empty // cannot prune
      else splitConjuncts(mergeCondition).flatMap {
        case org.apache.spark.sql.catalyst.expressions.EqualTo(l, r) =>
          (l, r) match {
            case (a: AttributeReference, s) if tgt.contains(a) &&
              s.references.subsetOf(srcAttrs) => Some((a, s))
            case (s, a: AttributeReference) if tgt.contains(a) &&
              s.references.subsetOf(srcAttrs) => Some((a, s))
            case _ => None
          }
        case _ => None
      }
    val equiBounds: Seq[org.apache.spark.sql.sources.Filter] =
      if (equiPairs.isEmpty) Seq.empty
      else {
        val aggs = equiPairs.zipWithIndex.flatMap { case ((_, s), i) =>
          Seq(min(bind(s)).as(s"__mn$i"), max(bind(s)).as(s"__mx$i"))
        }
        val mm = srcDf.agg(aggs.head, aggs.tail: _*).head()
        equiPairs.zipWithIndex.flatMap { case ((a, _), i) =>
          if (mm.isNullAt(2 * i)) Seq(
            // empty/all-null source key: the conjunct is never TRUE
            org.apache.spark.sql.sources.AlwaysFalse())
          else Seq(
            org.apache.spark.sql.sources
              .GreaterThanOrEqual(a.name, mm.get(2 * i)),
            org.apache.spark.sql.sources
              .LessThanOrEqual(a.name, mm.get(2 * i + 1)))
        }
      }
    val (touched0, untouched) =
      if (!rewritesTarget) (Seq.empty[String], m.files) // insert-only
      else if (notMatchedBySourceActions.nonEmpty)
        (m.files, Seq.empty[String])
      else TxTable.partitionFiles(m, equiBounds)
    // insert-only MERGE still needs the FULL target for the anti
    // semantics of NOT MATCHED, but rewrites none of it
    val joinTargetFiles = if (rewritesTarget) touched0 else m.files
    // row-level OCC reconciliation terms: the merge's read set is the
    // joined target files, and its conflict predicate the measured
    // equi-bounds (empty when NOT MATCHED BY SOURCE reads everything —
    // then any concurrent add refuses, TxTable.rebaseRowLevel scaladoc)
    val mergeRebase = Some((equiBounds, joinTargetFiles))

    // The row id must survive recomputation (an executor loss recomputes
    // cached blocks): monotonically_increasing_id would renumber rows and
    // silently break the cardinality check and the dedupe below, so the
    // shared snapshot reader derives a STABLE (file path, in-file row
    // position) id from the parquet _metadata column (and attaches
    // partition values on a partitioned table).
    val tgtDf = TxTable.readSnapshotFiles(spark, tableDir, schema,
      TxTransforms.identityNames(m), joinTargetFiles, m.dvDirs,
      tidCol = Some(Tid),
      dvMeta = morEnabled, mapping = m.columnMapping)
    val onCond = coalesce(bind(mergeCondition), lit(false))
    val joined =
      tgtDf.join(srcDf.withColumn(SMark, lit(true)), onCond, "full_outer")
        .persist()
    joinedCache = Some(joined)

    // ANSI cardinality rule: a target row matched by >1 source row is
    // ambiguous for MATCHED actions — refuse loudly, never pick one
    if (matchedActions.nonEmpty) {
      val dup = joined
        .filter(col(SMark).isNotNull && col(Tid).isNotNull)
        .groupBy(col(Tid)).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).count()
      require(dup == 0L,
        "MERGE INTO: at least one target row is matched by multiple " +
          "source rows — deduplicate the source on the join key " +
          "(latest-wins: a row_number window over the change sequence)")
    }

    val isInsert = col(Tid).isNull
    val isMatched = col(SMark).isNotNull
    def assignsOf(a: MergeAction): Seq[Assignment] = a match {
      case UpdateAction(_, as, _) => as
      case InsertAction(_, as) => as
      case _ => Seq.empty
    }
    def keepOf(a: MergeAction): Column = a match {
      case _: DeleteAction => lit(false)
      case _ => lit(true)
    }
    val keep =
      when(isInsert,
        firstMatch(notMatchedActions, actCond, keepOf, lit(false), bind))
      .when(isMatched,
        firstMatch(matchedActions, actCond, keepOf, lit(true), bind))
      .otherwise(
        firstMatch(notMatchedBySourceActions, actCond, keepOf, lit(true),
          bind))
    val outCols = schema.fields.toSeq.map { f =>
      val old = col(f.name)
      def valOf(a: MergeAction): Column =
        assignedValue(assignsOf(a), f, tgt, fallback = old, bind)
      when(isInsert,
        firstMatch(notMatchedActions, actCond, valOf,
          lit(null).cast(f.dataType), bind))
      .when(isMatched, firstMatch(matchedActions, actCond, valOf, old, bind))
      .otherwise(
        firstMatch(notMatchedBySourceActions, actCond, valOf, old, bind))
      .cast(f.dataType).as(f.name)
    }
    // A target row is AFFECTED when an action actually fires on it
    // (first-match-wins, same order as keep/outCols). Pass-through
    // rows (no action fired, incl. every row of the per-match
    // duplication when matchedActions is empty) are not affected, so
    // the change frame below needs no dedupe: affected rows are
    // matched-with-cardinality-<=-1 or not-matched-by-source, each
    // emitted exactly once by the full-outer join.
    def fired(as: Seq[MergeAction]): Column =
      firstMatch(as, actCond, (_: MergeAction) => lit(true),
        lit(false), bind)
    val affected =
      when(isInsert, lit(false))
        .when(isMatched, fired(matchedActions))
        .otherwise(fired(notMatchedBySourceActions))
    // CDF change frame (tx.changeDataFeed tables): affected rows'
    // originals leave ('delete'), their kept transforms and the
    // inserts arrive ('insert') — the batch feed's MoR labels; without
    // per-row action provenance a merge's update is honestly a
    // delete+insert pair
    val mergeCdf = joined.filter(affected)
      .select(schema.fieldNames.toSeq.map(col): _*)
      .withColumn(TxChanges.ChangeTypeCol, lit("delete"))
      .unionByName(joined.filter((affected || isInsert) && keep)
        .select(outCols: _*)
        .withColumn(TxChanges.ChangeTypeCol, lit("insert")))
    if (morEnabled) {
      // Affected rows tombstone — both updates and deletes — and only
      // the keep=true ones re-stage as copies, next to the inserts.
      val root = java.nio.file.Paths.get(tableDir)
      val dvRelOpt = TxTable.writeDvSidecar(spark, root,
        joined.filter(affected), "MERGE")
      val staged = joined.filter((affected || isInsert) && keep)
        .select(outCols: _*)
      // nothing affected AND nothing inserted: version-free no-op
      if (dvRelOpt.isEmpty && staged.isEmpty) return Seq.empty
      try TxTable.replaceFiles(spark, tableDir, m, untouched = m.files,
        staged, "merge", dvDirs = dvRelOpt.map(r => m.dvDirs :+ r),
        rowLevelRebase = mergeRebase, changeData = Some(mergeCdf)): Unit
      catch {
        case e: Throwable =>
          dvRelOpt.foreach(r =>
            try TxTable.deleteRecursively(root.resolve(r))
            catch { case _: Exception => () })
          throw e
      }
      return Seq.empty
    }
    // a matched target row with NO matched actions passes through
    // unchanged but the full-outer join emitted it once PER MATCH —
    // dedupe by the row id (values identical across duplicates: no
    // matched action means no source column reaches the output)
    val base =
      if (matchedActions.isEmpty && rewritesTarget)
        joined.filter(isInsert)
          .unionByName(joined.filter(!isInsert).dropDuplicates(Tid))
      else joined
    if (!rewritesTarget) {
      // insert-only: old files all carry forward untouched, so only rows
      // the source did NOT match may be staged — filter on the row id
      // BEFORE outCols projects it away. Nothing staged when the source
      // matched everything (version-free no-op).
      val inserts = base.filter(keep && isInsert).select(outCols: _*)
      if (inserts.isEmpty) return Seq.empty
      TxTable.replaceFiles(spark, tableDir, m, untouched, inserts,
        "merge", rowLevelRebase = mergeRebase,
        changeData = Some(mergeCdf))
    } else {
      val out = base.filter(keep).select(outCols: _*)
      // pruning removed every candidate: the only possible output rows
      // are inserts — none of those either is a version-free no-op
      // (the guard the UPDATE/MoR/insert-only branches already have)
      if (touched0.isEmpty && out.isEmpty) return Seq.empty
      TxTable.replaceFiles(spark, tableDir, m, untouched, out, "merge",
        rowLevelRebase = mergeRebase, changeData = Some(mergeCdf))
    }
    Seq.empty

    // persisted frames released on EVERY exit — a bare session issuing
    // repeated MERGEs must not accumulate one pinned source + one
    // pinned full-outer join per statement until eviction thrashing
    } finally {
      srcDf.unpersist()
      joinedCache.foreach(_.unpersist()): Unit
    }
  }
}

/** `INSERT OVERWRITE` under partitionOverwriteMode=dynamic on a
  * partitioned tx table ([[TxRowLevel.RowLevelRule]]'s conversion):
  * one `dynoverwrite` commit — only the partitions PRESENT in the
  * query's result replace, every other partition's files carry
  * forward verbatim (TxTable.commit mode `dynoverwrite` scaladoc). */
private[graft] final case class TxDynOverwriteCommand(
    tableDir: String,
    query: LogicalPlan) extends LeafRunnableCommand {

  override def innerChildren: Seq[LogicalPlan] = Seq(query)

  override def run(spark: SparkSession): Seq[Row] = {
    TxTable.commit(GraftBridge.ofRows(spark, query), tableDir,
      "dynoverwrite"): Unit
    Seq.empty
  }
}
