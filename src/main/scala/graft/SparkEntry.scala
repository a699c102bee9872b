package graft

import graft.compile.NlCompiler
import graft.exec.Executor
import graft.ext.{Dedup, Events, Multimodal, Similarity, TextStats}
import graft.ir.MongoJson
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — one declared query per implemented operator
  * (SURVEY.md §2 + §2.10), each paired with equivalent DuckDB SQL in
  * [[oracleSql]] for the driver's hash-match correctness gate.
  *
  * Determinism rules (SURVEY.md §7.3, §7.4.5/6):
  *  - every query ends in an explicit `orderBy` on a unique key — Mongo
  *    natural order does not exist in Spark and hash-match needs stable rows;
  *  - no raw timestamp columns in outputs (stringified with a fixed format);
  *  - double aggregates go through decimal accumulation (exact,
  *    order-independent) or stay per-row (IEEE ops in a fixed order are
  *    bit-reproducible across engines);
  *  - column names are aliased identically on both sides.
  *
  * The core `filter_* / projection / limit_* / count_*` entries run the FULL
  * pipeline — find-spec JSON → [[MongoJson.parse]] → FilterCompiler →
  * [[Executor.plan]] — not hand-built DataFrames, so a green row certifies
  * the parser and compiler, not just Spark. The `nl_*` entries start one
  * stage earlier at [[NlCompiler.compile]] (the reference's fallback
  * compiler, No_Sql.py:316-377).
  */
object SparkEntry {

  /** Flagship: the reference's README example shape ("employees earning
    * more than X", /root/reference/main.py:362) end-to-end — NL → IR →
    * filter → plan — on sf0.001. Driver smoke-checks rows > 0. */
  def entry(spark: SparkSession): DataFrame = {
    val emp = Tables.employees(spark, "/root/testdata/sf0.001")
    Executor.plan(emp, NlCompiler.compile("Find employees earning more than 3000"))
      .orderBy("emp_id")
  }

  /** The single gate contract, merged from six per-domain registries
    * (EntryHelpers carries the shared plumbing). Key sets are disjoint
    * by construction — each key lives in exactly one registry — and
    * EntryContractSpec asserts queries/oracle key equality. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueriesCore.queries ++ QueriesDedupSim.queries ++
      QueriesTextSampling.queries ++ QueriesEventsStreaming.queries ++
      QueriesJoinsOlap.queries ++ QueriesSearchOps.queries

  def oracleSql: Map[String, String] =
    QueriesCore.oracles ++ QueriesDedupSim.oracles ++
      QueriesTextSampling.oracles ++ QueriesEventsStreaming.oracles ++
      QueriesJoinsOlap.oracles ++ QueriesSearchOps.oracles

  /** The `SPARK_GRAFT_ONLY=q1,q2` subset a main runs, in written order
    * with names trimmed; None when the variable is unset. An unknown name
    * ends the program with one stderr line and exit status 2, before it
    * starts a Spark session, instead of silently running a smaller set. */
  def only(main: String): Option[Seq[String]] =
    sys.env.get("SPARK_GRAFT_ONLY").map { v =>
      val names = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq.distinct
      val unknown = names.filterNot(queries.contains)
      if (unknown.nonEmpty) {
        System.err.println(s"[$main] unknown query in SPARK_GRAFT_ONLY: " +
          unknown.mkString(", "))
        sys.exit(2)
      }
      names
    }
}
