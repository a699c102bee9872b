package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Access shim for two `private[sql]` conversions the public Spark 4 API no
  * longer exposes (the Column(Expression) constructor was removed when
  * Column moved to ColumnNode). Lives in a subpackage of
  * `org.apache.spark.sql` solely to satisfy the access qualifier — the
  * standard pattern for third-party Catalyst expression libraries. Nothing
  * else in this repo reaches into Spark internals.
  */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Temp-function registration on a live session (`sessionState` is
    * `private[sql]` on the classic session in Spark 4). */
  def registerFunction(spark: org.apache.spark.sql.SparkSession, name: String,
                       builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
      .createOrReplaceTempFunction(name, builder, "built-in")

  /** Catalyst predicate → source Filter (`DataSourceStrategy
    * .translateFilter` is `protected[sql]`) — the translation the tx
    * catalog's skipping builder runs to compare pushed predicates
    * against manifest min/max stats. */
  def translateFilter(e: Expression)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.execution.datasources.DataSourceStrategy
      .translateFilter(e, supportNestedPredicatePushdown = true)

  /** Source-filter → V2 Predicate (`Filter.toV2` is `private[sql]`) —
    * used by the tx catalog's file-skipping scan builder to report its
    * pushed subset through the DSv2 `pushedFilters()` metadata hook. */
  def filterToV2(f: org.apache.spark.sql.sources.Filter)
      : org.apache.spark.sql.connector.expressions.filter.Predicate = f.toV2

  /** V2 Predicate → source Filter (`PredicateUtils.toV1` is
    * `private[sql]`) — the reverse translation the tx catalog's
    * partitioned scan runs on RUNTIME filters (dynamic partition
    * pruning hands the scan V2 `IN` predicates whose values came from
    * the dim side's broadcast) so they can ride the same conservative
    * manifest-stats skip machinery as planning-time filters. */
  def predicateToV1(
      p: org.apache.spark.sql.connector.expressions.filter.Predicate)
      : Option[org.apache.spark.sql.sources.Filter] =
    org.apache.spark.sql.internal.connector.PredicateUtils.toV1(p)

  /** The row → JSON text encoder `Dataset.toJSON` uses (`JacksonGenerator`
    * and `JSONOptions` are `private[sql]`): same generator, same options
    * (none but the session time zone), no separator between records. The
    * returned function reuses one writer, so build one per task. */
  def jsonEncoder(schema: org.apache.spark.sql.types.StructType,
                  timeZone: String)
      : org.apache.spark.sql.catalyst.InternalRow => String = {
    val writer = new java.io.CharArrayWriter()
    val gen = new org.apache.spark.sql.catalyst.json.JacksonGenerator(
      schema, writer, new org.apache.spark.sql.catalyst.json.JSONOptions(
        Map.empty[String, String], timeZone))
    row => {
      writer.reset()
      gen.write(row)
      gen.flush()
      writer.toString
    }
  }

  /** Wrap a hand-built logical plan as a DataFrame (`Dataset.ofRows` is
    * `private[sql]`) — the entry point for custom logical operators
    * planned by an injected [[org.apache.spark.sql.execution.SparkStrategy]]. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
}
