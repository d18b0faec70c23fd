package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to the `private[sql]` Column ↔ Expression converters (the
  * standard technique for Spark-extension libraries: one small object
  * inside the org.apache.spark.sql package tree). */
object GraftShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Eagerly convert a Column to its catalyst expression tree via the
    * session's converter. Unlike [[expression]] (which may return a lazy
    * `ColumnNodeExpression` wrapper around the non-serializable internal
    * column node), the result is a pure catalyst tree — safe to embed in
    * custom plan nodes whose expressions ship in task closures. */
  def catalystExpression(spark: org.apache.spark.sql.SparkSession,
                         c: Column): Expression =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].expression(c)

  /** Wrap a (possibly custom) logical plan as a DataFrame — the
    * `Dataset.ofRows` bridge every Spark-extension library needs to
    * surface its own plan nodes through the public Dataset API. */
  def ofRows(spark: org.apache.spark.sql.SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** Wrap an InternalRow RDD as a fresh leaf DataFrame (the
    * `internalCreateDataFrame` / `LogicalRDD` bridge). Unlike
    * `createDataFrame(df.rdd, schema)` — which deserializes every cached
    * InternalRow to an external Row and re-encodes it on every read —
    * this wraps the rows as-is: a lineage-severing barrier built from
    * `df.queryExecution.toRdd` pays zero per-row conversion. */
  def internalCreateDataFrame(
      spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)

  /** Analyzed logical plan of a DataFrame (for building custom plan nodes
    * over resolved child output). */
  def analyzed(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.queryExecution.analyzed

  /** Install extra planner strategies / optimizer rules on a live session
    * (the `experimental` hook). Idempotent per strategy/rule instance. */
  def installPlanner(spark: org.apache.spark.sql.SparkSession,
                     strategy: org.apache.spark.sql.execution.SparkStrategy,
                     rules: Seq[org.apache.spark.sql.catalyst.rules.Rule[
                       org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]]): Unit = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    if (!s.experimental.extraStrategies.contains(strategy))
      s.experimental.extraStrategies = s.experimental.extraStrategies :+ strategy
    val missing = rules.filterNot(s.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      s.experimental.extraOptimizations = s.experimental.extraOptimizations ++ missing
  }

  /** Resolve a managed table's storage location from the session catalog:
    * the table's own metadata when it exists, else the catalog's default
    * path for the identifier (warehouse layout + db + name escaping —
    * never string-concatenated by callers). */
  def tableLocation(spark: org.apache.spark.sql.SparkSession,
                    table: String): java.net.URI = {
    val catalog = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.catalog
    val ident = org.apache.spark.sql.catalyst.TableIdentifier(table)
    if (catalog.tableExists(ident)) catalog.getTableMetadata(ident).location
    else catalog.defaultTablePath(ident)
  }
}
