package graft

import graft.compile.NlCompiler
import graft.exec.Executor
import graft.ext.{Dedup, Events, Multimodal, Similarity, TextStats}
import graft.ir.MongoJson
import graft.sources.TxTable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Once-per-(JVM, key) memoizer for the declared queries' session
  * fixtures: trained quantizers, persisted indexes, warehouse tables
  * whose committed history must be written exactly once so the versions
  * a query reads stay deterministic however often it re-runs.
  *
  * `build` runs under a per-key monitor, never inside the map's own
  * `computeIfAbsent`: a fixture that builds another fixture (`join_spj`
  * builds `db.part` first) would otherwise nest a `computeIfAbsent` on
  * the same map, which ConcurrentHashMap refuses ("Recursive update").
  * Concurrent callers of one key wait for the first build and share its
  * value; a build that throws records nothing, so the next call retries. */
private[graft] object Fixture {
  private final class Slot { var value: Option[Any] = None }
  private val slots =
    new java.util.concurrent.ConcurrentHashMap[(String, String), Slot]()

  def once[T](name: String, key: String)(build: => T): T = {
    val slot = slots.computeIfAbsent((name, key), _ => new Slot)
    slot.synchronized {
      slot.value match {
        case Some(v) => v.asInstanceOf[T]
        case None =>
          val v = build
          slot.value = Some(v)
          v
      }
    }
  }
}

/** Shared plumbing for the per-domain query registries: the find-spec/NL
  * entry builders, session-scoped index caches, scratch-dir lifecycle,
  * fixture derivations (dirty/lined/span docs) with their oracle CTEs,
  * the streaming drain, and the reusable DuckDB CTE blocks. Relocated
  * verbatim from the former monolithic SparkEntry. */
private[graft] object EntryHelpers {
  def mongo(table: String, specJson: String, sortKeys: String*)(
      spark: SparkSession, dir: String): DataFrame =
    Executor.plan(Tables.table(spark, dir, table), MongoJson.parse(specJson))
      .orderBy(sortKeys.map(col): _*)

  /** NL text → NlCompiler → plan over the employees view, sorted. */
  def nl(text: String, sortKeys: String*)(
      spark: SparkSession, dir: String): DataFrame =
    Executor.plan(Tables.employees(spark, dir), NlCompiler.compile(text))
      .orderBy(sortKeys.map(col): _*)

  val Emp = Tables.EmployeesOracleView

  /** Shared k-means coarse-quantizer config for the three IVF entries
    * (and their oracles, which unroll the same training rounds). */
  val KmK = 4
  val KmIters = 3

  /** `sim_recall` floor: minimum exact-top-10 hits the full-probe
    * IVF-PQ serving path (100 rescored candidates) must recover —
    * the measured envelope across sf0.001/0.01/0.1 is 6-10 hits, so
    * 5 certifies the machinery without pinning corpus-dependent
    * quantization luck. The IVF arm carries a separate exact ==10
    * full-probe pin in the query body. */
  val RecallFloorHits = 5L

  /** Session-scoped IVF-PQ index: one deterministic build per corpus dir
    * (see the `sim_ivfpq` entry's contract note). */
  def ivfPqIndexFor(s: SparkSession, dir: String,
                            emb: DataFrame): String =
    Fixture.once("ivfpq", dir) {
      val p = scratchDir("graft-ivfpq-")
      graft.ext.IvfIndex.buildPqKMeans(emb, "vec_id", "embedding", p,
        nlist = KmK, numSub = 4)
      p
    }

  /** Session-scoped trained quantizer for `sim_ivf`, same contract as
    * [[ivfPqIndexFor]]: the coarse quantizer is the build-once OFFLINE
    * half of an ANN serving path and its training is deterministic, so
    * a repeated invocation serves from the trained centroids instead of
    * re-running Lloyd (`emb_kmeans` deliberately does NOT share this —
    * it is the declared training query and measures the training). */
  def kmCentsFor(dir: String, emb: DataFrame): IndexedSeq[Seq[Double]] =
    Fixture.once("kmcents", dir)(
      graft.ext.KMeans.fit(emb, "vec_id", "embedding", KmK, KmIters))

  /** Session-scoped persisted IVF index for `sim_ivf_indexed` — the
    * on-disk dual of [[kmCentsFor]] (build-once/query-many is the
    * persisted index's whole contract; the result is identical because
    * the build is deterministic). */
  def ivfIndexFor(s: SparkSession, dir: String,
                          emb: DataFrame): String =
    Fixture.once("ivf", dir) {
      val p = scratchDir("graft-ivf-")
      graft.ext.IvfIndex.buildKMeans(emb, "vec_id", "embedding", p,
        nlist = KmK, iters = KmIters)
      p
    }

  /** `sim_ivf_append` fixture: the index built over the EVEN vec_ids
    * only, then the odd half ingested through [[graft.ext.IvfIndex
    * .append]] — assigned by the FROZEN build-time quantizer, appended
    * to their cell partitions, nothing retrained and nothing rewritten.
    * Because the quantizer is frozen, the post-append index equals a
    * from-scratch build with these centroids, which is exactly what the
    * oracle replays. */
  def ivfAppendIndexFor(s: SparkSession, dir: String,
                        emb: DataFrame): String =
    Fixture.once("ivf-append", dir) {
      val p = scratchDir("graft-ivfa-")
      graft.ext.IvfIndex.buildKMeans(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", p,
        nlist = KmK, iters = KmIters)
      graft.ext.IvfIndex.append(
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", p)
      p
    }

  /** `sim_ivfpq_append` fixture: the IVF-PQ index built over the EVEN
    * vec_ids, then the odd half ingested through
    * [[graft.ext.IvfIndex.appendPq]] — frozen coarse quantizer AND
    * frozen codebook, so ADC serving sees the ingest with no rebuild
    * and the oracle can replay the post-append index from scratch. */
  def ivfPqAppendIndexFor(s: SparkSession, dir: String,
                          emb: DataFrame): String =
    Fixture.once("ivfpq-append", dir) {
      val p = scratchDir("graft-ivfpqa-")
      graft.ext.IvfIndex.buildPqKMeans(
        emb.filter(col("vec_id") % 2 === 0), "vec_id", "embedding", p,
        nlist = KmK, numSub = 4, iters = KmIters)
      graft.ext.IvfIndex.appendPq(
        emb.filter(col("vec_id") % 2 === 1), "vec_id", "embedding", p)
      p
    }

  /** Scratch directory reclaimed at JVM exit. Deletion cannot be eager —
    * the returned DataFrames read these files lazily — but without the
    * hook every verify/bench run leaks its parquet scratch under /tmp.
    * ONE shared shutdown hook drains a concurrent list of paths: a hook
    * Thread per call would accumulate unboundedly in a long-lived driver
    * re-running scratch-using queries (bench/verify loops). */
  val scratchPaths =
    new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  lazy val scratchHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
        f.delete(): Unit
      }
      scratchPaths.forEach(p => rm(p.toFile))
    }))
  def scratchDir(prefix: String): String = {
    scratchHook
    val p = java.nio.file.Files.createTempDirectory(prefix)
    scratchPaths.add(p)
    p.toString
  }

  /** Run `body` under temporarily-set SQL confs and return its result
    * MATERIALIZED to a local one-partition frame: the confs restore (or
    * unset) before returning, and because the gate consumes the frame
    * lazily, handing back the original plan would re-evaluate it AFTER
    * the restore — the collect pins the answer to the scoped confs. For
    * conf-gated feature queries (e.g. parquet aggregate pushdown) whose
    * setting must not leak into the rest of the run. */
  def withSqlConf(s: SparkSession, pairs: (String, String)*)(
      body: => DataFrame): DataFrame =
    GraftSession.withConf(s, pairs: _*) {
      val df = body
      val rows = df.collect().toSeq
      s.createDataFrame(s.sparkContext.parallelize(rows, 1), df.schema)
    }

  /** `documents` projected to the (doc_id, lang, n_chars) shape every
    * warehouse fixture commits. */
  def langDocs(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"))

  /** The seed of the SQL-warehouse fixtures: [[langDocs]] committed to
    * `tbl` one language per commit — the first overwrites, the rest
    * append — so every data file's manifest stats carry min=max=lang
    * and a `lang` predicate provably touches only that language's
    * files. `properties` and `partitionBy` go on the first commit
    * (later commits inherit them). Returns the projected documents for
    * the fixture's own follow-up slices. */
  def langSplitTable(s: SparkSession, dir: String, tbl: String,
                     langs: Seq[String] = Seq("en", "de", "fr"),
                     properties: Map[String, String] = Map.empty,
                     partitionBy: Option[Seq[String]] = None): DataFrame = {
    val docs = langDocs(s, dir)
    langs.zipWithIndex.foreach { case (l, i) =>
      val first = i == 0
      TxTable.commit(docs.filter(col("lang") === l), tbl,
        if (first) "overwrite" else "append",
        properties = if (first) properties else Map.empty,
        partitionBy = if (first) partitionBy else None): Unit
    }
    docs
  }

  private def latest(tbl: String): Long =
    TxTable.latestVersion(tbl).getOrElse(0L)

  /** Session-stable TxCatalog warehouse for `sink_txlog_sql`: a DSv2
    * catalog instance is cached BY NAME in the session's CatalogManager
    * on first reference, so the root it was initialized with must never
    * change within a session — one warehouse per (JVM, corpus dir), its
    * three-commit history (en overwrite / de append / fr overwrite, the
    * sink_txlog fixture) written exactly once. Repeat calls reuse it;
    * the versions read are immutable either way. Every call registers
    * the warehouse as the session's `graft_tx` catalog and returns its
    * root. */
  private object TxCatalogBinding { var dir: String = null }
  def txCatalogWarehouse(s: SparkSession, dir: String): String =
    // ENFORCE the one-corpus-dir-per-JVM constraint the scaladoc states:
    // Spark's CatalogManager caches the initialized `graft_tx` instance
    // by NAME with the first-seen root, so a second corpus dir would
    // silently read the first dir's warehouse — refuse loudly instead.
    // The check, the build and the binding share ONE critical section: a
    // sibling thread with a different dir parked on the monitor sees the
    // binding when it wakes and takes the refusal branch, never a second
    // binding. The binding is recorded only after a successful build, so
    // a failed build binds nothing. The fixture write is once-per-JVM
    // setup, so holding the monitor over it is cheap in every call but
    // the first.
    TxCatalogBinding.synchronized {
      val bound = TxCatalogBinding.dir
      if (bound != null && bound != dir)
        throw new IllegalStateException(
          s"txCatalogWarehouse: catalog 'graft_tx' is already bound to " +
            s"corpus dir '$bound' in " +
            s"this JVM session; a second dir ('$dir') would silently read " +
            "the first warehouse (CatalogManager caches by name) — use a " +
            "fresh JVM per corpus dir (a fresh SparkSession in the same " +
            "JVM still hits this JVM-global binding)")
      val wh = Fixture.once("txcatalog", dir) {
        val wh = scratchDir("graft-txcat-")
        val tbl = s"$wh/db/t"
        val docs = langSplitTable(s, dir, tbl, langs = Seq("en", "de"))
        TxTable.commit(docs.filter(col("lang") === "fr"), tbl, "overwrite"): Unit
        wh
      }
      TxCatalogBinding.dir = dir
      graft.sources.TxCatalog.register(s, "graft_tx", wh)
      wh
    }

  /** `ops_optimize_sql` fixture: a second table (`db.opt`) in the shared
    * SQL warehouse, compacted THROUGH the SQL procedure surface exactly
    * once per (JVM, corpus dir) — the memoization keeps the committed
    * version deterministic (always 4: three commits + the compaction)
    * however many times the query re-runs in one session. */
  def txOptCompactedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.opt", dir) {
      langSplitTable(s, dir, s"$wh/db/opt"): Unit
      val v = s.sql(
        s"CALL graft_tx.system.compact('db.opt', ${1L << 30})")
        .head().getLong(0)
      require(v == 4L, s"expected compaction to commit v4, got v$v")
      v
    }

  /** `ops_delete_sql` fixture: a third table (`db.del`) in the shared
    * SQL warehouse, row-level-deleted THROUGH pure SQL exactly once per
    * (JVM, corpus dir). The three commits land one language per commit,
    * so every data file's manifest stats carry min=max=lang — the
    * `DELETE WHERE lang='de'` rewrite provably touches only the de
    * files (the en/fr files carry forward verbatim, suite-pinned in
    * TxCatalogSpec) and commits v4 through the same OCC publish. */
  def txDeletedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.del", dir) {
      val tbl = s"$wh/db/del"
      langSplitTable(s, dir, tbl): Unit
      s.sql("DELETE FROM graft_tx.db.del WHERE lang = 'de'")
      val v = latest(tbl)
      require(v == 4L, s"expected the SQL delete to commit v4, got v$v")
      v
    }

  /** `ops_update_sql` fixture: a fourth table (`db.upd`) in the shared
    * SQL warehouse, updated THROUGH pure SQL exactly once per (JVM,
    * corpus dir). One language per commit means per-file min=max=lang
    * manifest stats, so `UPDATE … WHERE lang='de'` provably touches
    * only the de files (TxRowLevel's candidate partition — the en/fr
    * files carry stats and blooms forward verbatim) and commits v4. */
  def txUpdatedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.upd", dir) {
      val tbl = s"$wh/db/upd"
      langSplitTable(s, dir, tbl): Unit
      s.sql(
        "UPDATE graft_tx.db.upd SET n_chars = n_chars + 1000 " +
          "WHERE lang = 'de'")
      val v = latest(tbl)
      require(v == 4L, s"expected the SQL update to commit v4, got v$v")
      v
    }

  /** `ops_merge_sql` fixture: a fifth table (`db.mrg`), merged THROUGH
    * pure SQL exactly once per (JVM, corpus dir). The source is the
    * fr+es slice of documents, so one MERGE exercises all three clause
    * classes: fr rows match (first-match-wins across the conditional
    * DELETE and the unconditional UPDATE), es doc_ids are absent from
    * the en+de+fr target (INSERT), en/de rows are untouched
    * pass-throughs. Commits v4. */
  def txMergedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.mrg", dir) {
      val tbl = s"$wh/db/mrg"
      langSplitTable(s, dir, tbl).filter(col("lang").isin("fr", "es"))
        .createOrReplaceTempView("graft_mrg_src")
      s.sql(
        """MERGE INTO graft_tx.db.mrg t
          |USING graft_mrg_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED AND s.n_chars > 400 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1000
          |WHEN NOT MATCHED THEN
          |  INSERT (doc_id, lang, n_chars)
          |  VALUES (s.doc_id, s.lang, s.n_chars)""".stripMargin)
      val v = latest(tbl)
      require(v == 4L, s"expected the SQL merge to commit v4, got v$v")
      v
    }

  /** `ops_rename_sql` fixture: one lang per commit (per-file min=max
    * lang stats), `ALTER TABLE RENAME COLUMN lang TO language` as v4
    * (metadata-only — TxTable.renameColumn), then the es slice INSERTed
    * at v5 THROUGH the renamed logical name (staged under the original
    * physical name, so all five files agree on bytes). The query's
    * pruning probe and the full certified read both run against this
    * mixed-history table. */
  def txRenamedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.ren", dir) {
      val tbl = s"$wh/db/ren"
      val docs = langSplitTable(s, dir, tbl)
      s.sql("ALTER TABLE graft_tx.db.ren RENAME COLUMN lang TO language")
      docs.filter(col("lang") === "es")
        .withColumnRenamed("lang", "language")
        .createOrReplaceTempView("graft_ren_es")
      s.sql("INSERT INTO graft_tx.db.ren SELECT * FROM graft_ren_es")
      val v = latest(tbl)
      require(v == 5L, s"expected rename v4 + insert v5, got v$v")
      val m = TxTable.readManifest(java.nio.file.Paths.get(tbl), v)
      require(m.columnMapping == Map("language" -> "lang"),
        s"unexpected mapping ${m.columnMapping}")
      require(m.files.size >= 4 &&
        m.stats.values.forall(_.contains("lang")),
        "every file (incl. post-rename) must carry physical-keyed stats")
      v
    }

  /** `ops_widen_sql` fixture: en+de slices committed with n_chars as
    * INT (v1, v2), `ALTER TABLE … ALTER COLUMN n_chars TYPE BIGINT` as
    * v3 (op `widen`, metadata-only — TxTable.widenColumn: files keep
    * their int32 bytes, reads promote through the parquet read schema),
    * then the fr slice INSERTed at v4 with values pushed past
    * Int.MaxValue — only a genuinely widened table can hold them. The
    * query's pruning probe runs a long-literal predicate over the
    * mixed int/long file history. */
  def txWidenedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.wid", dir) {
      val docs = langDocs(s, dir)
      val tbl = s"$wh/db/wid"
      TxTable.commit(
        docs.filter(col("lang") === "en")
          .withColumn("n_chars", col("n_chars").cast("int")),
        tbl, "overwrite")
      TxTable.commit(
        docs.filter(col("lang") === "de")
          .withColumn("n_chars", col("n_chars").cast("int")),
        tbl, "append")
      s.sql("ALTER TABLE graft_tx.db.wid ALTER COLUMN n_chars TYPE BIGINT")
      docs.filter(col("lang") === "fr")
        .withColumn("n_chars", col("n_chars") + lit(3000000000L))
        .createOrReplaceTempView("graft_wid_fr")
      s.sql("INSERT INTO graft_tx.db.wid SELECT * FROM graft_wid_fr")
      val v = latest(tbl)
      require(v == 4L, s"expected widen v3 + insert v4, got v$v")
      val ops = TxTable.history(tbl).map(_._2)
      require(ops == Seq("overwrite", "append", "widen", "append"),
        s"unexpected op history: ${ops.mkString(", ")}")
      v
    }

  /** `ops_merge_evolve` fixture: en+de accumulate (v1, v2), then one
    * `MERGE WITH SCHEMA EVOLUTION` whose source carries a NEW `score`
    * column — TxSqlTable's AUTOMATIC_SCHEMA_EVOLUTION capability routes
    * the delta through alterTable → evolveColumns as v3 (metadata-only
    * nullable ADD, the mergeSchemas contract) and the merge itself
    * commits v4 against the evolved schema: de rows update WITH the new
    * column, fr rows insert with it, and the untouched en rows read
    * NULL (require-pinned; refusal arms — type conflicts, partitioned
    * targets — suite-pinned in TxRowLevelSpec). */
  def txMergeEvolvedVersion(s: SparkSession, dir: String,
                            wh: String): Long =
    Fixture.once("db.mrgevo", dir) {
      val tbl = s"$wh/db/mrgevo"
      langSplitTable(s, dir, tbl, langs = Seq("en", "de"))
        .filter(col("lang").isin("de", "fr"))
        .withColumn("score", col("n_chars") % 100)
        .createOrReplaceTempView("graft_mrgevo_src")
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft_tx.db.mrgevo t
          |USING graft_mrgevo_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val v = latest(tbl)
      require(v == 4L,
        s"expected evolve v3 + merge v4, got v$v")
      val ops = TxTable.history(tbl).map(_._2)
      require(ops == Seq("overwrite", "append", "evolve", "merge"),
        s"unexpected op history: ${ops.mkString(", ")}")
      v
    }

  /** `ops_merge_evolve_part` fixture (`db.mrgevop`): the PARTITIONED
    * twin of `db.mrgevo` — the target is `PARTITIONED BY (lang)`, so
    * Spark's own positional evolution path is withheld and
    * [[graft.sources.TxRowLevel.RowLevelRule]] performs the evolution
    * itself: v3 is the metadata-only evolve (score slots BEFORE the
    * partition column, the hive invariant), v4 the merge whose
    * star-shaped actions were extended by-name with the new column. */
  def txMergeEvolvedPartVersion(s: SparkSession, dir: String,
                                wh: String): Long =
    Fixture.once("db.mrgevop", dir) {
      val tbl = s"$wh/db/mrgevop"
      langSplitTable(s, dir, tbl, langs = Seq("en", "de"),
        partitionBy = Some(Seq("lang")))
        .filter(col("lang").isin("de", "fr"))
        .withColumn("score", col("n_chars") % 100)
        .createOrReplaceTempView("graft_mrgevop_src")
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft_tx.db.mrgevop t
          |USING graft_mrgevop_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val v = latest(tbl)
      require(v == 4L, s"expected evolve v3 + merge v4, got v$v")
      val ops = TxTable.history(tbl).map(_._2)
      require(ops == Seq("overwrite", "append", "evolve", "merge"),
        s"unexpected op history: ${ops.mkString(", ")}")
      // the evolved column slots BEFORE the partition column
      val m = TxTable.readManifest(java.nio.file.Paths.get(tbl), v)
      val names = m.schema.fieldNames
      require(names.toSeq == Seq("doc_id", "n_chars", "score", "lang"),
        s"unexpected evolved order: ${names.mkString(", ")}")
      v
    }

  /** The deletion-vector opt-in every merge-on-read fixture seeds with. */
  private val DvOn = Map(TxTable.DvProperty -> "true")

  /** `ops_delete_mor` / `ops_purge_dv` fixture: a table (`db.mor`)
    * created with `tx.deletionVectors=true`, so the SQL DELETE commits
    * as MERGE-ON-READ — v4's data files are BYTE-IDENTICAL to v3's and
    * the de rows are tombstoned in a sidecar (cost ∝ deleted rows, the
    * 100 TB delete shape; require-pinned here, suite-pinned in
    * TxDvSpec). v5 is the purge: tombstones folded into a clean layout,
    * only the de-bearing files rewritten, dvDirs empty. Both versions
    * stay time-travelable. Returns (v4, v5). */
  def txMorVersions(s: SparkSession, dir: String,
                    wh: String): (Long, Long) =
    Fixture.once("db.mor", dir) {
      val tbl = s"$wh/db/mor"
      langSplitTable(s, dir, tbl, properties = DvOn): Unit
      s.sql("DELETE FROM graft_tx.db.mor WHERE lang = 'de'")
      val root = java.nio.file.Paths.get(tbl)
      val (m3, m4) = (TxTable.readManifest(root, 3L),
        TxTable.readManifest(root, 4L))
      require(m4.files == m3.files && m4.dvDirs.size == 1,
        s"expected a merge-on-read delete (same files, one sidecar), " +
          s"got ${m4.files.size} files / ${m4.dvDirs.size} sidecars")
      val v5 = TxTable.purgeDeletes(s, tbl)
      val m5 = TxTable.readManifest(root, v5)
      require(v5 == 5L && m5.dvDirs.isEmpty &&
        m4.files.toSet.intersect(m5.files.toSet).nonEmpty,
        s"expected the purge to commit v5 clearing DVs and carrying " +
          s"untouched files, got v$v5 / ${m5.dvDirs.size} sidecars")
      (4L, v5)
    }

  /** `ops_update_mor` fixture: like `db.upd` but on a
    * `tx.deletionVectors=true` table (`db.morupd`), so the SQL UPDATE
    * commits MERGE-ON-READ: every pre-update data file carries forward
    * VERBATIM, the matched de rows tombstone into a sidecar, and ONLY
    * their updated copies stage as appended files (require-pinned;
    * suite-pinned in TxDvSpec). Commits v4. */
  def txMorUpdatedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.morupd", dir) {
      val tbl = s"$wh/db/morupd"
      langSplitTable(s, dir, tbl, properties = DvOn): Unit
      s.sql(
        "UPDATE graft_tx.db.morupd SET n_chars = n_chars + 1000 " +
          "WHERE lang = 'de'")
      val v = latest(tbl)
      require(v == 4L, s"expected the MoR update to commit v4, got v$v")
      val root = java.nio.file.Paths.get(tbl)
      val (m3, m4) = (TxTable.readManifest(root, 3L),
        TxTable.readManifest(root, 4L))
      require(m3.files.forall(m4.files.contains) &&
        m4.files.size > m3.files.size && m4.dvDirs.size == 1,
        s"expected a merge-on-read update (all files carried + copies " +
          s"appended, one sidecar), got ${m4.files.size} files vs " +
          s"${m3.files.size} / ${m4.dvDirs.size} sidecars")
      v
    }

  /** `ops_merge_mor` fixture: the `db.mrg` three-clause MERGE replayed
    * on a `tx.deletionVectors=true` table (`db.mormrg`) — the affected
    * fr rows (conditional DELETE or UPDATE) tombstone into ONE sidecar,
    * their updated copies + the es inserts append, and EVERY pre-merge
    * data file carries forward verbatim (require-pinned; suite-pinned
    * in TxDvSpec). Commits v4. */
  def txMorMergedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.mormrg", dir) {
      val tbl = s"$wh/db/mormrg"
      langSplitTable(s, dir, tbl, properties = DvOn)
        .filter(col("lang").isin("fr", "es"))
        .createOrReplaceTempView("graft_mormrg_src")
      s.sql(
        """MERGE INTO graft_tx.db.mormrg t
          |USING graft_mormrg_src s
          |ON t.doc_id = s.doc_id
          |WHEN MATCHED AND s.n_chars > 400 THEN DELETE
          |WHEN MATCHED THEN UPDATE SET n_chars = s.n_chars + 1000
          |WHEN NOT MATCHED THEN
          |  INSERT (doc_id, lang, n_chars)
          |  VALUES (s.doc_id, s.lang, s.n_chars)""".stripMargin)
      val v = latest(tbl)
      require(v == 4L, s"expected the MoR merge to commit v4, got v$v")
      val root = java.nio.file.Paths.get(tbl)
      val (m3, m4) = (TxTable.readManifest(root, 3L),
        TxTable.readManifest(root, 4L))
      require(m3.files.forall(m4.files.contains) && m4.dvDirs.size == 1,
        s"expected a merge-on-read MERGE (all files carried, one " +
          s"sidecar), got ${m4.files.size} files vs ${m3.files.size} / " +
          s"${m4.dvDirs.size} sidecars")
      v
    }

  /** `ops_txchanges` fixture: a DV-opted table (`db.chg`) whose history
    * is one insert per language then a MoR DELETE and a MoR UPDATE —
    * the batch change feed (`TxChanges.between`) must replay all four
    * versions exactly: inserts read directly, the delete's rows served
    * from its own sidecar (left-semi over affected files, no table
    * diff), the update as a pre/postimage pair. */
  def txChangesVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.chg", dir) {
      val tbl = s"$wh/db/chg"
      langSplitTable(s, dir, tbl, langs = Seq("en", "de"),
        properties = DvOn): Unit
      s.sql("DELETE FROM graft_tx.db.chg " +
        "WHERE lang = 'de' AND n_chars > 400")
      s.sql("UPDATE graft_tx.db.chg SET n_chars = n_chars + 1000 " +
        "WHERE lang = 'en' AND n_chars <= 300")
      val v = latest(tbl)
      require(v == 4L,
        s"expected delete+update to commit v3+v4, got v$v")
      v
    }

  /** `ops_zorder_sql` fixture: a sixth table (`db.zord`), z-order
    * rewritten THROUGH the SQL procedure surface exactly once per
    * (JVM, corpus dir) — `CALL graft_tx.system.zorder(...)` commits v4
    * (three commits + the rewrite), rows unchanged. */
  def txZorderedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.zord", dir) {
      langSplitTable(s, dir, s"$wh/db/zord"): Unit
      val v = s.sql(
        "CALL graft_tx.system.zorder('db.zord', 'doc_id', 'n_chars', 4)")
        .head().getLong(0)
      require(v == 4L, s"expected the SQL zorder to commit v4, got v$v")
      v
    }

  /** `sink_txcheck` fixture: a CHECK-constrained table (`db.chk`)
    * created and filled THROUGH pure SQL exactly once per (JVM, corpus
    * dir) — TBLPROPERTIES register two constraints at CREATE, both
    * hold on the inserted slices, and every INSERT paid the
    * enforcement pass (TxTable.commit scaladoc). Lands at v3. */
  def txCheckedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.chk", dir) {
      s.sql(
        """CREATE TABLE graft_tx.db.chk
          |(doc_id BIGINT, lang STRING, n_chars BIGINT)
          |TBLPROPERTIES (
          |  'check.chars_positive' = 'n_chars > 0',
          |  'check.lang_known' =
          |    "lang IN ('en', 'de', 'fr', 'es', 'zh')")""".stripMargin)
      langDocs(s, dir).createOrReplaceTempView("graft_chk_src")
      s.sql("INSERT INTO graft_tx.db.chk SELECT doc_id, lang, n_chars " +
        "FROM graft_chk_src WHERE lang IN ('en', 'de')")
      s.sql("INSERT INTO graft_tx.db.chk SELECT doc_id, lang, n_chars " +
        "FROM graft_chk_src WHERE lang = 'fr'")
      val v = latest(s"$wh/db/chk")
      require(v == 3L, s"expected the constrained fixture at v3, got v$v")
      v
    }

  /** `ops_constraint_sql` fixture: the CHECK-constraint LIFECYCLE
    * through pure SQL (`db.altc`) — CREATE unconstrained, INSERT the
    * en slice, `ALTER TABLE … SET TBLPROPERTIES` registers two
    * promises as ONE atomic metadata version (validating the existing
    * snapshot first), a violating INSERT refuses and leaves no
    * version, `UNSET` withdraws one promise, and the formerly-refused
    * slice then lands. Proves SET → enforce → UNSET → admit end to
    * end; versions pinned at every step. */
  def txAlteredVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.altc", dir) {
      s.sql("CREATE TABLE graft_tx.db.altc " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
      langDocs(s, dir).createOrReplaceTempView("graft_altc_src")
      s.sql("INSERT INTO graft_tx.db.altc SELECT doc_id, lang, " +
        "n_chars FROM graft_altc_src WHERE lang = 'en'")
      s.sql("""ALTER TABLE graft_tx.db.altc SET TBLPROPERTIES (
        |  'check.chars_positive' = 'n_chars > 0',
        |  'check.lang_en' = "lang = 'en'")""".stripMargin)
      val tbl = s"$wh/db/altc"
      val vSet = latest(tbl)
      require(vSet == 3L,
        s"expected ONE atomic version for the two-property SET, got v$vSet")
      val refused =
        try { s.sql("INSERT INTO graft_tx.db.altc SELECT doc_id, " +
          "lang, n_chars FROM graft_altc_src WHERE lang = 'de'"); false }
        catch { case e: Exception if e.getMessage != null &&
          e.getMessage.contains("lang_en") => true }
      require(refused, "the de INSERT must refuse against check.lang_en")
      require(TxTable.latestVersion(tbl) == Some(3L),
        "a refused INSERT must commit no version")
      s.sql(
        "ALTER TABLE graft_tx.db.altc UNSET TBLPROPERTIES ('check.lang_en')")
      s.sql("INSERT INTO graft_tx.db.altc SELECT doc_id, lang, " +
        "n_chars FROM graft_altc_src WHERE lang = 'de'")
      val v = latest(tbl)
      require(v == 5L, s"expected the altered fixture at v5, got v$v")
      v
    }

  /** `ops_evolve_sql` fixture: metadata-only schema evolution through
    * pure SQL (`db.evo`) — CREATE, INSERT the en slice, `ADD COLUMNS
    * (flag BIGINT)` as an O(1) evolve version (en rows now read
    * NULL), INSERT the de slice WITH the new column populated, then
    * `DROP COLUMN n_chars` (files keep the bytes; the schema stops
    * projecting them). The certified read crosses files written under
    * THREE different schemas; versions pinned at every step. */
  def txEvolvedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.evo", dir) {
      s.sql("CREATE TABLE graft_tx.db.evo " +
        "(doc_id BIGINT, lang STRING, n_chars BIGINT)")
      langDocs(s, dir).createOrReplaceTempView("graft_evo_src")
      s.sql("INSERT INTO graft_tx.db.evo SELECT doc_id, lang, " +
        "n_chars FROM graft_evo_src WHERE lang = 'en'")
      s.sql("ALTER TABLE graft_tx.db.evo ADD COLUMNS (flag BIGINT)")
      s.sql("INSERT INTO graft_tx.db.evo SELECT doc_id, lang, " +
        "n_chars, n_chars % 7 FROM graft_evo_src WHERE lang = 'de'")
      s.sql("ALTER TABLE graft_tx.db.evo DROP COLUMN n_chars")
      val v = latest(s"$wh/db/evo")
      require(v == 5L, s"expected the evolved fixture at v5, got v$v")
      v
    }

  /** `join_spj_bucket` fixture: TWO tables laid out
    * `PARTITIONED BY (bucket(8, doc_id))` — hidden partitioning, no
    * materialized bucket column — whose scans report
    * KeyGroupedPartitioning over the bucket transform and whose join
    * on doc_id plans with ZERO exchanges under v2 bucketing
    * (TxTransforms / TxBucketFunction scaladoc). */
  def txBucketVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.bka", dir) {
      val docs = Tables.documents(s, dir)
      val spec = Seq(graft.sources.TxTransforms.PartitionField(
        "doc_id_bucket", "bucket[8]", "doc_id"))
      TxTable.commit(
        docs.select(col("doc_id"), col("n_chars")),
        s"$wh/db/bka", "overwrite", partitionSpec = Some(spec))
      TxTable.commit(
        docs.select(col("doc_id"), col("lang")),
        s"$wh/db/bkb", "overwrite", partitionSpec = Some(spec))
      1L
    }

  /** `events` projected to the (event_id, ts, user_id) shape the
    * time-layout fixtures commit. */
  private def tsEvents(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_id"), col("ts"), col("user_id"))

  /** `scan_days_prune` fixture (`db.evd`): events laid out
    * `PARTITIONED BY (days(ts))` — hidden partitioning over the
    * timestamp itself, no manual date column; a ts range predicate
    * prunes whole day directories through the projected day bounds. */
  def txDaysVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.evd", dir) {
      TxTable.commit(tsEvents(s, dir), s"$wh/db/evd", "overwrite",
        partitionSpec = Some(Seq(graft.sources.TxTransforms
          .PartitionField("ts_day", "days", "ts"))))
      1L
    }

  /** `scan_hours_prune` fixture (`db.evh`): ONE day of events laid out
    * `PARTITIONED BY (hours(ts))` — the finer time grain (r19) for
    * hot-path tables whose queries probe hour windows; 24 hour
    * directories, an hour-range predicate prunes through the projected
    * ordinal bounds exactly like days. */
  def txHoursVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.evh", dir) {
      val ev = tsEvents(s, dir)
        .filter(col("ts") >= lit(java.sql.Timestamp.valueOf(
          "2024-01-10 00:00:00")) &&
          col("ts") < lit(java.sql.Timestamp.valueOf(
            "2024-01-11 00:00:00")))
      TxTable.commit(ev, s"$wh/db/evh", "overwrite",
        partitionSpec = Some(Seq(graft.sources.TxTransforms
          .PartitionField("ts_hour", "hours", "ts"))))
      1L
    }

  /** `scan_ts_prune` fixture (`db.evt`): events committed
    * UNPARTITIONED but range-clustered on `ts` (8 range buckets → 8
    * files with tight, disjoint ts extents). No hidden layout at all —
    * the pruning under test is the r20 TIMESTAMP column stats: the tx
    * write pins INT64-micros parquet output, the commit records exact
    * epoch-micros min/max per file, and a raw `ts` range predicate
    * proves files out at planning (the most common filter on event
    * tables, finally prunable without a days/hours relayout). */
  def txTsVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.evt", dir) {
      TxTable.commit(tsEvents(s, dir).repartitionByRange(8, col("ts")),
        s"$wh/db/evt", "overwrite")
      1L
    }

  /** `ops_tags` fixture (`db.tgq`): three versions (en / +de / +fr),
    * v2 tagged 'pre_fr' through the CALL surface, then a retain=1
    * vacuum that WITHOUT the tag would expire v1 AND v2 — the pin is
    * require-asserted to have stopped expiry at exactly v1 (prefix
    * contiguity below the lowest tag). The certified read resolves the
    * tag by NAME through SQL time travel. */
  def txTagsVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.tgq", dir) {
      val tbl = s"$wh/db/tgq"
      langSplitTable(s, dir, tbl): Unit
      require(s.sql("CALL graft_tx.system.tag('db.tgq', 'pre_fr', 2)")
        .head().getLong(0) == 2L)
      val st = TxTable.vacuum(tbl, retain = 1, minAgeMillis = 0L)
      require(st.expiredVersions == Seq(1L),
        s"the tag must pin expiry below v2, vacuum expired " +
          s"${st.expiredVersions}")
      require(TxTable.versions(tbl) == Seq(2L, 3L))
      2L
    }

  /** `ops_txlog_meta` fixture (`db.lmt`): five commits under a
    * checkpoint interval no commit reaches (periodic checkpoints never
    * fire), so `t$log` reports a 4-delta replay tail — then the
    * operator repair, `CALL system.checkpoint`, bounds it to 0. The
    * pre-repair staleness is require-pinned HERE; the certified rows
    * are the post-repair summary. */
  def txLogMetaVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.lmt", dir) {
      val tbl = s"$wh/db/lmt"
      langSplitTable(s, dir, tbl,
        langs = Seq("en", "de", "fr", "es", "ja"),
        properties = Map(TxTable.CheckpointIntervalProperty -> "1000")): Unit
      val before = TxTable.logSummary(tbl)
      require(before == TxTable.LogSummary(5L, None, 4L),
        s"expected a 4-delta stale log before the repair, got $before")
      val v = s.sql("CALL graft_tx.system.checkpoint('db.lmt')")
        .head().getLong(0)
      require(v == 5L, s"checkpoint repaired at v$v, expected v5")
      v
    }

  /** `stream_txcdf_cdc` fixture (`db.cdc`): a `tx.changeDataFeed=true`
    * table whose history crosses every change-commit kind the cdc
    * stream serves — v1 overwrite (en), v2 append (de), v3 SQL UPDATE
    * (de rows re-priced: commit-time update_preimage/postimage change
    * files), v4 SQL DELETE (short en docs: delete change files).
    * Session-stable because the SQL path resolves through a named
    * catalog (Spark caches catalog instances by name). */
  def txCdcVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.cdc", dir) {
      val tbl = s"$wh/db/cdc"
      langSplitTable(s, dir, tbl, langs = Seq("en", "de"),
        properties = Map(TxTable.CdfProperty -> "true")): Unit
      s.sql("UPDATE graft_tx.db.cdc SET n_chars = n_chars + 1000 " +
        "WHERE lang = 'de'").collect(): Unit
      s.sql("DELETE FROM graft_tx.db.cdc " +
        "WHERE lang = 'en' AND n_chars < 200").collect(): Unit
      val v = latest(tbl)
      require(v == 4L, s"expected the cdc fixture at v4, got v$v")
      v
    }

  /** `ops_partitions_meta` fixture (`db.pmeta`): a lang-partitioned
    * table with a DETERMINISTIC file layout — the frame hash-clusters
    * by lang before the partitioned write, so every lang's rows live
    * in exactly ONE task and the hive write emits exactly ONE file per
    * value; that determinism is what lets DuckDB replay the
    * `t$partitions` view's n_files column. */
  def txPmetaVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.pmeta", dir) {
      val docs = langDocs(s, dir)
      val tbl = s"$wh/db/pmeta"
      TxTable.commit(
        docs.filter(col("lang").isin("en", "de", "fr"))
          .repartition(8, col("lang")),
        tbl, "overwrite", partitionBy = Some(Seq("lang")))
      TxTable.commit(
        docs.filter(col("lang") === "es").repartition(1), tbl, "append")
      latest(tbl)
    }

  /** `sink_txpart` fixture: a PARTITIONED table (`db.part`,
    * `PARTITIONED BY (lang)`) in the shared SQL warehouse — one
    * partitioned overwrite (en+de+fr) plus one inherited append (es),
    * so the certified read spans multiple commit dirs AND partition
    * values, the case hive path discovery cannot serve and the
    * manifest-driven scan must (TxTable.readVersion scaladoc). */
  def txPartitionedVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.part", dir) {
      val docs = langDocs(s, dir)
      val tbl = s"$wh/db/part"
      TxTable.commit(
        docs.filter(col("lang").isin("en", "de", "fr")), tbl,
        "overwrite", partitionBy = Some(Seq("lang")))
      TxTable.commit(
        docs.filter(col("lang") === "es"), tbl, "append")
      val v = latest(tbl)
      require(v == 2L, s"expected the partitioned fixture at v2, got v$v")
      v
    }

  /** `join_dpp` dim fixture: a tiny FILE-backed lang dimension next to
    * the partitioned fact (`db.part`). File-backed matters: an
    * in-memory LocalRelation folds its filter away before Catalyst's
    * PartitionPruning rule runs, and DPP requires a selective Filter
    * node on the dim side — the real fact-dim shape. Written once per
    * warehouse. */
  def langDimDir(s: SparkSession, wh: String): String =
    Fixture.once("dim_lang", wh) {
      val d = s"$wh/dim_lang"
      import s.implicits._
      Seq(("en", "major"), ("de", "major"), ("fr", "minor"),
        ("es", "minor")).toDF("lang", "tier")
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    }

  /** `join_spj` fixture: a SECOND lang-partitioned table (`db.partw`,
    * one per-lang stats row per partition) next to `db.part` — the
    * co-partitioned pair a storage-partitioned join aligns without a
    * shuffle. */
  def txSpjVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.partw", dir) {
      txPartitionedVersion(s, dir, wh): Unit
      val docs = Tables.documents(s, dir)
        .filter(col("lang").isin("en", "de", "fr", "es"))
        .groupBy("lang").agg(count(lit(1)).as("docs"))
      val tbl = s"$wh/db/partw"
      TxTable.commit(docs, tbl, "overwrite",
        partitionBy = Some(Seq("lang")))
      latest(tbl)
    }

  /** The partition-reload shape shared by `db.dyn` and `db.rpw`: en/de/fr
    * committed `PARTITIONED BY (lang)` as v1, then `reload` — given the
    * (doc_id, n_chars, lang) documents — rewrites the `lang` partition
    * through SQL as v2. Require-pinned on the manifests: v2 is one `op`
    * commit, every other partition's files carry forward VERBATIM, and
    * every old `lang` file is replaced. */
  private def partitionReload(s: SparkSession, dir: String, tbl: String,
                              lang: String, op: String)(
      reload: DataFrame => Unit): Long = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"), col("lang"))
    TxTable.commit(
      docs.filter(col("lang").isin("en", "de", "fr")), tbl,
      "overwrite", partitionBy = Some(Seq("lang")))
    reload(docs)
    val m1 = TxTable.readManifest(java.nio.file.Paths.get(tbl), 1L)
    val m2 = TxTable.readManifest(java.nio.file.Paths.get(tbl), 2L)
    require(m2.op == op, s"expected a $op commit, got '${m2.op}'")
    def inLang(f: String) = f.split('/').contains(s"lang=$lang")
    val kept = m1.files.filterNot(inLang)
    require(kept.nonEmpty && kept.forall(m2.files.contains),
      s"non-$lang partition files must carry forward VERBATIM through " +
        s"the $op commit")
    require(m1.files.filter(inLang).forall(f => !m2.files.contains(f)),
      s"$lang partition files must be replaced")
    2L
  }

  /** `ops_dynoverwrite` fixture: a lang-partitioned table (`db.dyn`)
    * whose fr partition is reloaded via SQL `INSERT OVERWRITE` under
    * partitionOverwriteMode=dynamic (one `dynoverwrite` commit — the
    * daily-partition-reload shape). The en/de partitions' files must
    * carry forward VERBATIM — require-pinned here on the manifest. */
  def txDynVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.dyn", dir) {
      partitionReload(s, dir, s"$wh/db/dyn", "fr", "dynoverwrite") { docs =>
        docs.filter(col("lang") === "fr")
          .withColumn("n_chars", col("n_chars") + 100000)
          .createOrReplaceTempView("graft_dyn_fr")
        GraftSession.withConf(s,
            "spark.sql.sources.partitionOverwriteMode" -> "dynamic")(
          s.sql("INSERT OVERWRITE graft_tx.db.dyn SELECT * FROM graft_dyn_fr"))
      }
    }

  /** `ops_replacewhere` fixture: a lang-partitioned table (`db.rpw`)
    * whose de partition is backfilled via SQL `INSERT OVERWRITE …
    * PARTITION (lang = 'de')` — the static spec arrives as an
    * OverwriteByExpression filter and executes as ONE atomic
    * `replacewhere` commit (TxTable.replaceWhere); en/fr files carry
    * forward verbatim, require-pinned on the manifest. */
  def txRpwVersion(s: SparkSession, dir: String, wh: String): Long =
    Fixture.once("db.rpw", dir) {
      partitionReload(s, dir, s"$wh/db/rpw", "de", "replacewhere") { docs =>
        docs.filter(col("lang") === "de")
          .select(col("doc_id"), (col("n_chars") + 500000).as("n_chars"))
          .createOrReplaceTempView("graft_rpw_de")
        s.sql(
          """INSERT OVERWRITE graft_tx.db.rpw PARTITION (lang = 'de')
            |SELECT doc_id, n_chars FROM graft_rpw_de""".stripMargin)
      }
    }

  /** `join_dfp` fixture: an UNPARTITIONED table (`db.dfp`) committed in
    * three per-lang slices with per-file BLOOMS on doc_id, plus a
    * file-backed dim of the en doc_ids divisible by 7. doc_id ranges
    * interleave across lang slices (min/max can rarely prove a file
    * out), so pruning the de/fr files at runtime is the BLOOM's win —
    * dynamic file pruning on a high-cardinality join key. */
  def txDfpDimDir(s: SparkSession, dir: String, wh: String): String =
    Fixture.once("db.dfp", dir) {
      val docs = langDocs(s, dir)
      val tbl = s"$wh/db/dfp"
      Seq("en", "de", "fr").zipWithIndex.foreach { case (l, i) =>
        TxTable.commit(docs.filter(col("lang") === l), tbl,
          if (i == 0) "overwrite" else "append",
          bloomColumns = Seq("doc_id"))
      }
      val d = s"$wh/dim_docs"
      docs.filter(col("lang") === "en" && col("doc_id") % 7 === 0)
        .select(col("doc_id"),
          when(col("doc_id") % 2 === 0, lit("a")).otherwise(lit("b"))
            .as("grp"))
        .coalesce(1).write.mode("overwrite").parquet(d)
      d
    }

  /** Every node of an executed plan, descending through AQE query
    * stages (QueryStageExec is leaf-like — plain collect stops at it).
    * The gate's plan pins — dynamic-pruning observability, shuffle-free
    * SPJ — read through this walker. */
  def planNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        Seq(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        Seq(q.plan)
      case other => other.children
    }
    p +: kids.flatMap(planNodes)
  }

  def batchScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.connector.read.Scan] =
    planNodes(p).collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan
    }

  def shuffleNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] =
    planNodes(p).collect {
      case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike =>
        s
    }

  def txPartitionedScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[graft.sources.TxPartitionedScan] =
    batchScans(p).collect { case s: graft.sources.TxPartitionedScan => s }

  def txFlatScans(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[graft.sources.TxFlatScan] =
    batchScans(p).collect { case s: graft.sources.TxFlatScan => s }

  /** Documents with deterministic PII/URL decorations appended: the
    * synthetic corpus is clean, so the compliance queries (`text_pii`,
    * `text_domains`) derive a dirty variant as a pure function of
    * `doc_id` — the oracle replays the identical derivation in SQL
    * ([[DirtyCte]]), and the regex scan has real, varied signal to find:
    * some docs get an email, some a phone, some an IPv4, some one or two
    * URLs, many get combinations, the rest stay clean. */
  def dirtyDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    def part(cond: Column, pieces: Column*): Column =
      when(cond, concat(pieces: _*)).otherwise(lit(""))
    val id = col("doc_id")
    d.select(id, concat(col("text"),
      part(id % 3 === 0, lit(" contact user"), id.cast("string"),
        lit("@example.com")),
      part(id % 5 === 0, lit(" call 555-010-"),
        lpad((id % 10000).cast("string"), 4, "0")),
      part(id % 4 === 0, lit(" from 10.0."), (id % 256).cast("string"),
        lit(".7")),
      part(id % 2 === 0, lit(" see https://site"), (id % 7).cast("string"),
        lit(".example.org/page")),
      part(id % 6 === 0, lit(" mirror http://m.site"), (id % 7).cast("string"),
        lit(".example.org/x"))).as("text"))
  }

  /** SQL replay of [[dirtyDocs]] — keep the two derivations in lockstep. */
  val DirtyCte: String =
    """dirty AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 3 = 0
      |      THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |      THEN ' call 555-010-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 4 = 0
      |      THEN ' from 10.0.' || (doc_id % 256) || '.7' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0
      |      THEN ' see https://site' || (doc_id % 7) || '.example.org/page'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 6 = 0
      |      THEN ' mirror http://m.site' || (doc_id % 7) || '.example.org/x'
      |      ELSE '' END AS text
      |  FROM documents
      |)""".stripMargin

  /** Documents with deterministic multi-line structure: the synthetic
    * corpus is single-line, so the line-hygiene query (`text_linededup`)
    * derives a lined variant as a pure function of `doc_id` — boilerplate
    * footer lines planted on modular classes (overlapping at the lcm's,
    * so docs carry 0–3 boilerplate lines), plus one genuinely unique line
    * on the %13 class that must SURVIVE the dedup. The corpus's own
    * exact-duplicate documents contribute the second signal source: their
    * identical body lines repeat across docs and are dropped too. */
  def linedDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    def part(cond: Column, pieces: Column*): Column =
      when(cond, concat(pieces: _*)).otherwise(lit(""))
    val id = col("doc_id")
    d.select(id, concat(col("text"),
      part(id % 7 === 0, lit("\nsubscribe to our newsletter today")),
      part(id % 5 === 0, lit("\nall rights reserved footer")),
      part(id % 11 === 0, lit("\nnavigation home about contact")),
      part(id % 13 === 0, lit("\nrare line "), id.cast("string")))
      .as("text"))
  }

  /** SQL replay of [[linedDocs]] — keep the two derivations in lockstep. */
  val LinedCte: String =
    """lined AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 7 = 0
      |      THEN chr(10) || 'subscribe to our newsletter today' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0
      |      THEN chr(10) || 'all rights reserved footer' ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0
      |      THEN chr(10) || 'navigation home about contact' ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0
      |      THEN chr(10) || 'rare line ' || doc_id ELSE '' END AS text
      |  FROM documents
      |)""".stripMargin

  /** Documents with deterministic cross-document boilerplate RUNS planted
    * for the substring-dedup queries: the %7 and %9 classes append two
    * different shared sentences (≥ 5 tokens each — at or above the gram
    * size, so they form duplicated spans), overlapping at the lcm where
    * both sentences concatenate into ONE longer merged span; the %13
    * class appends a doc-unique suffix that must NOT be flagged. The
    * corpus's own exact-duplicate documents contribute whole-document
    * spans as the second signal source. */
  def spanDocs(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
    def part(cond: Column, pieces: Column*): Column =
      when(cond, concat(pieces: _*)).otherwise(lit(""))
    val id = col("doc_id")
    d.select(id, concat(col("text"),
      part(id % 7 === 0,
        lit(" limited time offer click here to claim your reward now")),
      part(id % 9 === 0,
        lit(" this content is provided for informational purposes only")),
      part(id % 13 === 0, lit(" signature token "), id.cast("string")))
      .as("text"))
  }

  /** SQL replay of [[spanDocs]] — keep the two derivations in lockstep. */
  val SpanCte: String =
    """spand AS (
      |  SELECT doc_id, text ||
      |    CASE WHEN doc_id % 7 = 0
      |      THEN ' limited time offer click here to claim your reward now'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 9 = 0
      |      THEN ' this content is provided for informational purposes only'
      |      ELSE '' END ||
      |    CASE WHEN doc_id % 13 = 0
      |      THEN ' signature token ' || doc_id ELSE '' END AS text
      |  FROM documents
      |)""".stripMargin

  /** Winnowing fingerprint derivation as portable SQL (ends in `win`
    * with per-doc `fps` lists) — the same sequential k=4-gram poly hash
    * (GramPolyOps scaladoc: tokens joined by one space, two Rabin-Karp
    * folds — list_reduce's first-element seeding equals the engine's
    * 0-seeded fold because (0*31 + cp) = cp) and the same value-distinct
    * sliding w=5 min. range(1, greatest(n-k, 0) + 2) emits n-k+1 gram
    * positions for n >= k and exactly one (whole-text) otherwise; list
    * slices clamp. Shared by `text_winnow` and `dedup_winnow`. */
  val WinnowCte: String =
    """t AS (
      |  SELECT doc_id,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS ws
      |  FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    list_transform(range(1, greatest(len(ws) - 4, 0) + 2),
      |      i -> array_to_string(ws[i:i+3], ' ')) AS grams
      |  FROM t WHERE len(ws) > 0
      |), h AS (
      |  SELECT doc_id, list_transform(grams, t2 ->
      |    list_reduce([CAST(ascii(c) AS BIGINT)
      |                 for c in string_split(t2, '')],
      |      (a, x) -> (a * 31 + x) % 2147483647) * 2147483648
      |    + list_reduce([CAST(ascii(c) AS BIGINT)
      |                   for c in string_split(t2, '')],
      |      (a, x) -> (a * 131 + x) % 2147483629)) AS hs
      |  FROM g
      |), win AS (
      |  SELECT doc_id,
      |    list_distinct(list_transform(
      |      range(1, greatest(len(hs) - 5, 0) + 2),
      |      i -> list_min(hs[i:i+4]))) AS fps
      |  FROM h
      |)""".stripMargin

  /** One integer power-method PageRank iteration as portable SQL — the
    * exact arithmetic of [[graft.ext.Components.pageRank]] at the default
    * scale 1e9: per-edge contribution `pr·85·w // (100·outW)`, teleport
    * base `15·scale // (100·N)`, dangling mass dropped. Chained by the
    * `events_pagerank` oracle. */
  def PrIterCte(i: Int, prev: String): String =
    s"""c$i AS (
       |  SELECT ew.dst AS node,
       |    CAST(sum((r.pr * 85 * ew.w) // (100 * ew.outw)) AS BIGINT) AS cs
       |  FROM ew JOIN $prev r ON ew.src = r.node GROUP BY ew.dst
       |), r$i AS (
       |  SELECT node, (15 * CAST(1000000000 AS BIGINT)) //
       |    (100 * (SELECT c FROM nn)) + coalesce(cs, CAST(0 AS BIGINT)) AS pr
       |  FROM nodes LEFT JOIN c$i USING (node)
       |)""".stripMargin

  /** One k-core peeling round as portable SQL (degree among alive edges,
    * drop-below-k, filter both endpoints), chained by the `graph_kcore`
    * oracle from `e0`. A round past the fixpoint is a no-op (empty drop
    * set), which is what lets a fixed unroll equal the engine's
    * converge-then-stop loop. */
  def KCoreIterCte(i: Int, k: Int): String =
    // MATERIALIZED: each round references its predecessor several times;
    // default CTE inlining would expand the base scan exponentially in
    // the unroll depth (observed as a too-many-open-files blowup)
    s"""d$i AS MATERIALIZED (
       |  SELECT n, count(*) AS d
       |  FROM (SELECT u AS n FROM e$i UNION ALL SELECT v FROM e$i)
       |  GROUP BY n
       |), e${i + 1} AS MATERIALIZED (
       |  SELECT u, v FROM e$i
       |  WHERE u IN (SELECT n FROM d$i WHERE d >= $k)
       |    AND v IN (SELECT n FROM d$i WHERE d >= $k)
       |)""".stripMargin

  /** One BPE training round as portable SQL, chained by the `text_bpe`
    * oracle. Segmentations live as strings of `|`-prefixed
    * space-terminated symbols (`"|h |e |l |l |o "`): the `|` anchors a
    * symbol start so a pair pattern can never match inside a longer
    * symbol, and plain `replace` (leftmost, non-overlapping in BOTH
    * engines and in [[graft.ext.TextStats.learnBpeMerges]]) IS the
    * exhaustive merge application — including the cascade where merging
    * `[a,b,a,b]` twice yields `[ab,ab]`. Pair counting weights every
    * adjacent position by word frequency; the winner is count desc, then
    * (l, r) — the `|` prefix is order-transparent because it is common
    * to every symbol. */
  def BpeIterCte(i: Int): String =
    s"""pr$i AS (
       |  SELECT l, r, CAST(sum(freq) AS BIGINT) AS c FROM (
       |    SELECT freq,
       |      unnest(syms[1:len(syms)-1]) AS l,
       |      unnest(syms[2:len(syms)]) AS r
       |    FROM (SELECT freq, string_split(rtrim(seg), ' ') AS syms
       |          FROM seg${i - 1})
       |  ) GROUP BY l, r
       |), b$i AS (
       |  SELECT l, r FROM pr$i ORDER BY c DESC, l, r LIMIT 1
       |), seg$i AS (
       |  SELECT word, freq,
       |    replace(seg, b.l || ' ' || b.r || ' ',
       |            b.l || substring(b.r, 2) || ' ') AS seg
       |  FROM seg${i - 1}, b$i b
       |)""".stripMargin

  /** The z-value bit-interleave as portable SQL over columns `x`/`y` —
    * generated from the same (bits = 8) term list [[graft.sources.Layout
    * .zValue]] composes, so the oracle replays the engine arithmetic
    * exactly. */
  val ZInterleave8: String = (0 until 8).map(i =>
    s"(((x >> $i) & 1) << ${2 * i}) | (((y >> $i) & 1) << ${2 * i + 1})")
    .mkString(" | ")

  /** Streaming read of the events table: glob (not the literal file path —
    * the file source requires basePath to be a directory), schema from a
    * batch probe, ts normalized to TimestampType exactly like
    * Tables.events (both the NANOS-as-long and the TIMESTAMP_NTZ
    * testdata generations — watermarks require TIMESTAMP). */
  def eventsStream(s: SparkSession, dir: String): DataFrame = {
    val raw = s.read.parquet(s"$dir/events.parquet")
    val stream = s.readStream.schema(raw.schema).parquet(s"$dir/events.parque*")
    stream.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        stream.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        stream.withColumn("ts",
          col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => stream
    }
  }

  /** Events re-shipped as immutable JSONL files for the `graft-dirtail`
    * DSv2 source: ts as epoch micros on the wire (the
    * [[graft.streaming.StreamSources.kafkaEvents]] convention — a JSON
    * number, no timezone ambiguity), written by the distributed text
    * sink, then renamed to the source's `*.jsonl` immutable-file
    * extension (a driver-side O(files) metadata pass, same economics as
    * a TxTable commit). props is dropped from the wire: the hourly
    * topology never reads it and JSON-in-JSON escaping would be pure
    * fixture noise.
    *
    * Memoized per corpus dir (the [[ivfIndexFor]] pattern): the JSONL
    * export is FIXTURE preparation, not the operator under test, so
    * re-timing the query measures the dirtail SOURCE machinery, not a
    * repeated distributed text write. Files are immutable once renamed —
    * exactly the source's contract — so reuse is safe within a session. */
  /** The dirtail JSONL wire schema (ts as epoch-micros on the wire,
    * decoded to TimestampType) — ONE definition shared by every dirtail
    * query; four inline copies previously invited silent divergence of
    * one decode path when the wire convention changes. */
  val DirtailWireSchema: org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts",
        org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value",
        org.apache.spark.sql.types.DoubleType)))

  def dirtailEventsDir(s: SparkSession, dir: String): String =
    Fixture.once("dirtail", dir)(buildDirtailEventsDir(s, dir))

  private def buildDirtailEventsDir(s: SparkSession, dir: String): String = {
    val src = scratchDir("graft-dirtail-src-")
    Tables.events(s, dir)
      .select(to_json(struct(col("event_id"),
        unix_micros(col("ts")).as("ts"), col("user_id"),
        col("event_type"), col("value"))).as("value"))
      .write.mode("overwrite").text(src)
    // close the directory stream (an unclosed Files.list leaks an fd)
    val s0 = java.nio.file.Files.list(java.nio.file.Paths.get(src))
    try {
      val it = s0.iterator()
      while (it.hasNext) {
        val f = it.next()
        val n = f.getFileName.toString
        if (n.startsWith("part-") && !n.endsWith(".jsonl"))
          java.nio.file.Files.move(f, f.resolveSibling(n + ".jsonl")): Unit
      }
    } finally s0.close()
    src
  }

  /** Drain a streaming frame through a DISTRIBUTED file sink with
    * Trigger.AvailableNow and read the result back as parquet — no row ever
    * passes through the driver (the r3 memory-sink drain collected the whole
    * stream driver-side; fine for a 10k-row gate, wrong as the only
    * certified end-to-end streaming path).
    *
    * Append-mode frames use the parquet file sink directly. Complete-mode
    * aggregates can't (the file sink is append-only), so they drain via
    * `foreachBatch` overwriting the output with each batch's full aggregate
    * state — each write is a distributed `DataFrame.write`, and the last
    * batch leaves exactly the final aggregate on disk. */
  /** @param watermarkFinalizes pass TRUE for append-mode topologies whose
    *   OUTPUT depends on watermark finalization — outer-join null rows,
    *   event-time-timeout session closes, append-mode aggregate emission.
    *   Those need the trailing no-data micro-batch (the batch that runs
    *   after the last data batch purely to advance the watermark and emit
    *   finalized state). Everything else — complete-mode drains (output
    *   is a pure function of processed input; the no-data batch re-emits
    *   an identical frame) and inner stream-stream joins (matches emit in
    *   the data batch; the no-data batch only evicts state) — skips it:
    *   one fewer planned batch, one fewer commit of every state-store
    *   instance, byte-identical output (oracle-certified). Complete-mode
    *   drains ignore the flag and always skip. */
  def drainStream(s: SparkSession, name: String, mode: String,
                          frame: DataFrame,
                          watermarkFinalizes: Boolean = true): DataFrame = {
    val base = java.nio.file.Paths.get(scratchDir(s"graft-$name-"))
    val out = s"$base/out"
    // a zero-batch drain (empty source) never invokes foreachBatch, so the
    // directory must exist for the read-back to return an empty frame
    // instead of failing on a missing path
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out)): Unit
    // a stateful stream allocates one state-store instance per shuffle
    // partition PER BATCH; at gate scale 32 stores are pure task overhead.
    // The partition count is captured by the query's checkpoint at start
    // (fresh here), so scoping the conf to the drain is safe; a production
    // deployment sizes this to its key cardinality instead.
    //
    // The save/set/restore mutates SESSION state: the object-level lock
    // serializes overlapping drains (otherwise drain B could save A's
    // temporary "8" and pin the session there). Verify/Bench call entries
    // sequentially anyway; the lock makes the harness safe, not fast.
    val skipNoData = mode != "append" || !watermarkFinalizes
    DrainLock.synchronized {
    val saved = s.conf.get("spark.sql.shuffle.partitions")
    val savedNoData =
      s.conf.get("spark.sql.streaming.noDataMicroBatches.enabled")
    s.conf.set("spark.sql.shuffle.partitions", "8")
    if (skipNoData)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    try {
      val writer = frame.writeStream
        .option("checkpointLocation", s"$base/ckpt")
        .outputMode(mode)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      val q = mode match {
        case "append" => writer.format("parquet").option("path", out).start()
        case _ => writer.foreachBatch {
            (batch: DataFrame, _: Long) =>
              batch.write.mode("overwrite").parquet(out)
          }.start()
      }
      q.awaitTermination()
    } finally {
      s.conf.set("spark.sql.shuffle.partitions", saved)
      s.conf.set("spark.sql.streaming.noDataMicroBatches.enabled",
        savedNoData)
    }
    }
    s.read.schema(frame.schema).parquet(out)
  }

  object DrainLock

  /** Deterministic query vector for the similarity entries: the embedding of
    * vec_id 0, collected once (one row — metadata-sized, not a data scan). */
  def queryVec(emb: DataFrame): Seq[Double] =
    emb.where(col("vec_id") === 0).select(col("embedding"))
      .head().getSeq[Float](0).map(_.toDouble)

  /** Batch variant: the embeddings of `ids`, collected once (|ids| rows —
    * the broadcast probe batch, metadata-sized like [[queryVec]]). */
  def queryVecs(emb: DataFrame, ids: Seq[Long]): Map[Long, Seq[Double]] =
    emb.where(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toSeq)
      .toMap

  // =========================================================================
  // DuckDB oracles — same parquet tables, ANSI-ish SQL. Column names and
  // row order match the engine formulations above. `dedup_minhash` reuses
  // the exact-Jaccard oracle: banded MinHash (b=64, r=2) candidates are
  // exact-verified, so false positives are impossible and the false-negative
  // probability (1-s^r)^b is MAXIMAL at the threshold s=0.5 (≈1e-8) and
  // decreasing in s. The residual FN risk is retired DETERMINISTICALLY,
  // not probabilistically: hash seeds, band keys, and the driver's
  // testdata (TESTDATA.md, seed=42, read-only) are all fixed, so the
  // equality was validated by running this verify flow at every driver SF
  // (sf0.001 smoke, sf0.01 oracle gate) — a band miss cannot newly appear
  // at round time on identical inputs.
  // =========================================================================

  /** dedup_simhash oracle: the token hash is a PORTABLE 62-bit poly hash
    * (graft.functions.TokenPolyOps — two 31-bit Rabin-Karp folds packed as
    * h1*2^31+h2) precisely so this SQL can reproduce the full SimHash
    * pipeline: per-token hash → per-bit majority vote (2*ones >= n, the
    * same tie rule as the engine) → sign-bit signature → Hamming ≤ k pairs.
    * The engine blocks on `maxHamming + 1` variable-width bands over the 62
    * meaningful bits — pigeonhole-lossless at the declared radius (a pair
    * within Hamming k differs in at most k of the k+1 bands, so one band
    * always matches exactly) — so a plain all-pairs SQL join is an exact
    * reference. */
  val SimhashOracle: String = {
    val ones = (0 until 62).map(j => s"sum((h >> $j) & 1) AS o$j").mkString(", ")
    val bits = (0 until 62)
      .map(j => s"(CASE WHEN 2*o$j >= n THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS t FROM documents
       |), h AS (
       |  SELECT doc_id,
       |    list_reduce([CAST(ascii(c) AS BIGINT) for c in string_split(t,'')], (a,x) -> (a*31+x) % 2147483647) * 2147483648
       |    + list_reduce([CAST(ascii(c) AS BIGINT) for c in string_split(t,'')], (a,x) -> (a*131+x) % 2147483629) AS h
       |  FROM tok WHERE t <> ''
       |), sums AS (
       |  SELECT doc_id, count(*) AS n, $ones FROM h GROUP BY doc_id
       |), sigc AS (
       |  SELECT doc_id, $bits AS sig FROM sums
       |), sig AS (
       |  -- docs with no non-empty tokens get signature 0, like the engine
       |  -- (empty hash array -> all-zero majority)
       |  SELECT d.doc_id, COALESCE(s.sig, 0) AS sig
       |  FROM (SELECT DISTINCT doc_id FROM documents) d
       |  LEFT JOIN sigc s USING (doc_id)
       |)
       |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       |  CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming
       |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.sig, b.sig)) <= 3
       |ORDER BY id_a, id_b""".stripMargin
  }

  /** Shared CTEs for jaccard/minhash/cluster oracles: distinct 3-gram
    * shingles per doc (whole text when < 3 tokens), exploded with sizes,
    * blocked pair counts. */
  val JaccardCtes: String =
    """toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS s FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(s) < 3 THEN [array_to_string(s, ' ')]
      |         ELSE list_distinct([array_to_string(s[i:i+2], ' ')
      |                             for i in range(1, len(s) - 1)]) END AS grams
      |  FROM toks
      |), e AS (
      |  SELECT doc_id, len(grams) AS sz, unnest(grams) AS gram FROM g
      |), shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, a.sz AS sz_a, b.sz AS sz_b,
      |         count(*) AS sh
      |  FROM e a JOIN e b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2, 3, 4
      |)""".stripMargin

  /** The register + per-group-state CTE chain of the [[graft.ext.Hll]]
    * sketch — shared by [[HllOracle]] and the `agg_hll_intersect` oracle
    * so the hash, rank, and harmonic arithmetic cannot drift. */
  val HllCtes: String =
    """x1 AS (
      |  SELECT event_type,
      |    ((user_id % 2147483647) + 2147483647) % 2147483647
      |      * 1103515245 % 2147483647 AS v
      |  FROM events WHERE user_id IS NOT NULL
      |), x2 AS (
      |  SELECT event_type, xor(v, v >> 15) AS v FROM x1
      |), x3 AS (
      |  SELECT event_type, v * 1566083941 % 2147483647 AS v FROM x2
      |), h AS (
      |  SELECT event_type, xor(v, v >> 13) AS hv FROM x3
      |), ranked AS (
      |  SELECT event_type, hv % 64 AS reg,
      |    CASE WHEN hv // 64 = 0 THEN 26
      |         ELSE 26 - length(printf('%b', hv // 64)) END AS rank
      |  FROM h
      |), regs AS (
      |  SELECT event_type, reg, max(rank) AS m_j
      |  FROM ranked GROUP BY event_type, reg
      |), state AS (
      |  SELECT event_type, count(*) AS n_regs,
      |    sum(CAST(1 AS BIGINT) << (26 - m_j)) AS isum_p
      |  FROM regs GROUP BY event_type
      |)""".stripMargin

  /** The [[graft.ext.Hll]] sketch replayed end-to-end in SQL — shared by
    * the batch (`agg_hll`) and streaming (`stream_hll`) entries, which
    * must produce the identical state by construction. */
  val HllOracle: String =
    s"""WITH $HllCtes
      |SELECT event_type, n_regs,
      |  CAST(isum_p + (64 - n_regs) * 67108864 AS BIGINT) AS isum,
      |  CAST(0.709 AS DOUBLE) * 4096 * 67108864 /
      |    CAST(isum_p + (64 - n_regs) * 67108864 AS DOUBLE)
      |    AS hll_estimate
      |FROM state ORDER BY event_type""".stripMargin

  val JaccardOracle: String =
    s"""WITH $JaccardCtes
      |SELECT id_a, id_b, round(sh / (sz_a + sz_b - sh), 4) AS jaccard
      |FROM shared WHERE round(sh / (sz_a + sz_b - sh), 4) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Shared recursive min-label reachability over the exact-Jaccard pair
    * graph (the walk enumerates every (node, reachable-label) pair — fine
    * at oracle scale; the ENGINE uses distributed label propagation
    * instead). One string reused by both cluster oracles so the pair
    * threshold and walk formulation cannot drift between them. */
  val ClusterWalkCtes: String =
    s"""$JaccardCtes, pairs AS (
      |  SELECT id_a, id_b FROM shared
      |  WHERE round(sh / (sz_a + sz_b - sh), 4) >= 0.5
      |), edges AS (
      |  SELECT id_a AS src, id_b AS dst FROM pairs
      |  UNION ALL SELECT id_b, id_a FROM pairs
      |), nodes AS (
      |  SELECT DISTINCT src AS id FROM edges
      |), walk(id, comp) AS (
      |  SELECT id, id FROM nodes
      |  UNION
      |  SELECT e.src, w.comp FROM edges e JOIN walk w ON w.id = e.dst
      |)""".stripMargin

  val ClusterOracle: String =
    s"""WITH RECURSIVE $ClusterWalkCtes
      |SELECT id AS doc_id, min(comp) AS cluster
      |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin

  /** Shared quality-metric CTE (TextStats.quality arithmetic) — one string
    * for text_quality and text_cleanpass so the metric arithmetic cannot
    * drift between their oracles. */
  val QualityCtes: String =
    """t AS (SELECT doc_id, text, string_split(text, ' ') AS s FROM documents),
      |q AS (
      |  SELECT doc_id,
      |    CAST(length(text) AS BIGINT) AS n_chars,
      |    round(CAST(list_sum([length(w) for w in s]) AS DOUBLE) / len(s), 4) AS avg_token_len,
      |    round(CAST(len([w for w in s if w IN ('the','a','of','and','to','is')]) AS DOUBLE) / len(s), 4) AS stopword_ratio,
      |    round(CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
      |          / greatest(length(text), 1), 4) AS punct_ratio
      |  FROM t
      |)""".stripMargin

  /** Df-cut Jaccard oracle: shingles with document frequency > 10 dropped,
    * per-doc set sizes recomputed over the RETAINED shingles (matching
    * Dedup.jaccardPairs prune-then-size semantics). */
  val PrunedJaccardOracle: String =
    """WITH toks AS (
      |  SELECT doc_id, string_split(text, ' ') AS s FROM documents
      |), g AS (
      |  SELECT doc_id,
      |    CASE WHEN len(s) < 3 THEN [array_to_string(s, ' ')]
      |         ELSE list_distinct([array_to_string(s[i:i+2], ' ')
      |                             for i in range(1, len(s) - 1)]) END AS grams
      |  FROM toks
      |), e AS (
      |  SELECT doc_id, unnest(grams) AS gram FROM g
      |), keep AS (
      |  SELECT gram FROM e GROUP BY gram HAVING count(*) <= 10
      |), ep AS (
      |  SELECT e.doc_id, e.gram FROM e JOIN keep USING (gram)
      |), sz AS (
      |  SELECT doc_id, count(*) AS sz FROM ep GROUP BY doc_id
      |), shared AS (
      |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS sh
      |  FROM ep a JOIN ep b ON a.gram = b.gram AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |)
      |SELECT id_a, id_b,
      |  round(sh / (sa.sz + sb.sz - sh), 4) AS jaccard
      |FROM shared
      |JOIN sz sa ON sa.doc_id = id_a
      |JOIN sz sb ON sb.doc_id = id_b
      |WHERE round(sh / (sa.sz + sb.sz - sh), 4) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** sim_lsh oracle: the 8 seeded hyperplanes are deterministic Scala-side
    * literals — embed them verbatim (shortest-round-trip double formatting
    * parses back to the identical double in DuckDB), bucket by the same
    * sign-bit key, verify with the same rounded cosine. */
  val LshOracle: String = {
    val planes = graft.ext.Similarity.hyperplanes(8, 64, 42L)
    val bucket = planes.zipWithIndex.map { case (p, i) =>
      val lst = p.mkString("[", ", ", "]")
      s"(CASE WHEN list_dot_product(e, $lst) >= 0 THEN ${1L << i} ELSE 0 END)"
    }.mkString(" + ")
    s"""WITH v AS (
       |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
       |), b AS (
       |  SELECT vec_id, e, $bucket AS bucket FROM v
       |), pairs AS (
       |  SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
       |    round(list_dot_product(a.e, b2.e) /
       |      (sqrt(list_dot_product(a.e, a.e)) * sqrt(list_dot_product(b2.e, b2.e))), 4) AS sim
       |  FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
       |)
       |SELECT id_a, id_b, sim FROM pairs WHERE sim >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  /** Unrolled distributed-k-means training rounds as a CTE chain — the
    * DuckDB replay of [[graft.ext.KMeans.fit]]+[[graft.ext.KMeans
    * .assigned]] (same contract as BpeIterCte: external engines verify
    * TRAINING, not just serving). Expects a prior CTE `v(vec_id, e)` with
    * e already DOUBLE[]. Produces `km_fin(vec_id, cell)` — the learned
    * assignment. Arithmetic mirrors KMeans exactly: seeds = the k
    * smallest vec_ids' vectors; distance = floor(in-order Σ(e−c)²·1e8
    * +0.5) BIGINT with ties to the lower cell (list_reduce's
    * first-element seed equals the 0.0-seeded Spark fold bit-for-bit);
    * update = the 1e-10 quantized mean; empty cells keep their previous
    * centroid via the left-join coalesce. */
  def kmeansCte(k: Int, iters: Int, dims: Int): String = {
    val d2 = "CAST(floor(list_reduce([ (e[i]-c[i])*(e[i]-c[i]) " +
      s"for i in range(1, ${dims + 1}) ], (a,b) -> a + b) * 1e8 + 0.5) " +
      "AS BIGINT)"
    val sb = new StringBuilder
    sb.append(
      s"""km_c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cell,
         |    e AS c
         |  FROM (SELECT vec_id, e FROM v ORDER BY vec_id LIMIT $k)
         |)""".stripMargin)
    for (t <- 1 to iters) {
      sb.append(
        s""", km_s$t AS (
           |  SELECT vec_id, e, cell,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY $d2, cell) AS rn
           |  FROM v CROSS JOIN km_c${t - 1}
           |), km_u$t AS (
           |  SELECT cell, generate_subscripts(e, 1) AS pos, unnest(e) AS x
           |  FROM km_s$t WHERE rn = 1
           |), km_m$t AS (
           |  SELECT cell, pos,
           |    CAST(sum(CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS DOUBLE)
           |      / count(*) / 1e10 AS x
           |  FROM km_u$t GROUP BY cell, pos
           |), km_n$t AS (
           |  SELECT cell, list(x ORDER BY pos) AS c FROM km_m$t GROUP BY cell
           |), km_c$t AS (
           |  SELECT p.cell, coalesce(n.c, p.c) AS c
           |  FROM km_c${t - 1} p LEFT JOIN km_n$t n USING (cell)
           |)""".stripMargin)
    }
    sb.append(
      s""", km_fin AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT vec_id, cell,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY $d2, cell) AS rn
         |    FROM v CROSS JOIN km_c$iters) WHERE rn = 1
         |)""".stripMargin)
    sb.toString
  }

  /** sim_ivf oracle: k-means-learned cells (km_fin), per-cell centroids
    * with decimal-exact accumulation (matching Similarity.centroids),
    * probe the 2 nearest cells, brute-force within. */
  val IvfOracle: String =
    s"""WITH v AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), q AS (
      |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
      |), ${kmeansCte(k = 4, iters = 3, dims = 64)}, vc AS (
      |  SELECT v.vec_id, v.e, f.cell FROM v JOIN km_fin f USING (vec_id)
      |), pos AS (
      |  SELECT cell, generate_subscripts(e, 1) AS pos, unnest(e) AS x FROM vc
      |), cent AS (
      |  SELECT cell, pos,
      |    CAST(sum(CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / count(*) / 1e10 AS x
      |  FROM pos GROUP BY cell, pos
      |), carr AS (
      |  SELECT cell, list(x ORDER BY pos) AS c FROM cent GROUP BY cell
      |), probes AS (
      |  SELECT cell,
      |    round(list_dot_product(c, qe) /
      |      (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qe, qe))), 4) AS cs
      |  FROM carr, q ORDER BY cs DESC, cell LIMIT 2
      |)
      |SELECT vec_id,
      |  round(list_dot_product(vc.e, qe) /
      |    (sqrt(list_dot_product(vc.e, vc.e)) * sqrt(list_dot_product(qe, qe))), 4) AS sim
      |FROM vc JOIN probes USING (cell), q
      |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin

  /** [[IvfOracle]]'s incremental twin: train + build over the EVEN
    * vec_ids only, then assign the odd half against the FROZEN written
    * centroids with the same quantized argmin `IvfIndex.append` uses
    * (ties to the lower cell) — the probe ranking and final scan run
    * over the union, replaying the post-append index from scratch. */
  val IvfAppendOracle: String = {
    val d2c = "CAST(floor(list_reduce([ (e[i]-c[i])*(e[i]-c[i]) " +
      "for i in range(1, 65) ], (a,b) -> a + b) * 1e8 + 0.5) AS BIGINT)"
    s"""WITH vall AS (
      |  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e FROM embeddings
      |), v AS (
      |  SELECT * FROM vall WHERE vec_id % 2 = 0
      |), va AS (
      |  SELECT * FROM vall WHERE vec_id % 2 = 1
      |), q AS (
      |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
      |), ${kmeansCte(k = 4, iters = 3, dims = 64)}, vc AS (
      |  SELECT v.vec_id, v.e, f.cell FROM v JOIN km_fin f USING (vec_id)
      |), pos AS (
      |  SELECT cell, generate_subscripts(e, 1) AS pos, unnest(e) AS x FROM vc
      |), cent AS (
      |  SELECT cell, pos,
      |    CAST(sum(CAST(floor(x * 1e10 + 0.5) AS BIGINT)) AS DOUBLE)
      |      / count(*) / 1e10 AS x
      |  FROM pos GROUP BY cell, pos
      |), carr AS (
      |  SELECT cell, list(x ORDER BY pos) AS c FROM cent GROUP BY cell
      |), apps AS (
      |  SELECT vec_id, e, cell,
      |    row_number() OVER (PARTITION BY vec_id ORDER BY $d2c, cell) AS rn
      |  FROM va CROSS JOIN carr
      |), vc2 AS (
      |  SELECT vec_id, e, cell FROM vc
      |  UNION ALL
      |  SELECT vec_id, e, cell FROM apps WHERE rn = 1
      |), probes AS (
      |  SELECT cell,
      |    round(list_dot_product(c, qe) /
      |      (sqrt(list_dot_product(c, c)) * sqrt(list_dot_product(qe, qe))), 4) AS cs
      |  FROM carr, q ORDER BY cs DESC, cell LIMIT 2
      |)
      |SELECT vec_id,
      |  round(list_dot_product(vc2.e, qe) /
      |    (sqrt(list_dot_product(vc2.e, vc2.e)) * sqrt(list_dot_product(qe, qe))), 4) AS sim
      |FROM vc2 JOIN probes USING (cell), q
      |ORDER BY sim DESC, vec_id LIMIT 5""".stripMargin
  }

  /** Cosine similarity vs the vec_id-0 embedding, double math, rounded 4. */
  def cosineSql(scoreAlias: String): String =
    s"""WITH q AS (
       |  SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0
       |), scored AS (
       |  SELECT vec_id, label,
       |    round(list_dot_product(CAST(embedding AS DOUBLE[]), qe) /
       |      (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
       |                             CAST(embedding AS DOUBLE[]))) *
       |       sqrt(list_dot_product(qe, qe))), 4) AS $scoreAlias
       |  FROM embeddings, q
       |)""".stripMargin

}
