package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.graftshim.GraftShim

/** Registration + Column API for graft's native expressions.
  *
  * [[graft.core.SparkSessionFactory]] calls [[GraftFunctions.registerTo]]
  * on every session it builds, so `SELECT graft_cosine(a, b)` /
  * `graft_dot(a, b)` work in SQL.
  */
object GraftFunctions {

  private def info(name: String, clazz: Class[_]) =
    new ExpressionInfo(clazz.getName, name)

  val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (FunctionIdentifier("graft_cosine"), info("graft_cosine", classOf[CosineSimilarity]),
        (e: Seq[Expression]) => CosineSimilarity(e(0), e(1))),
      (FunctionIdentifier("graft_dot"), info("graft_dot", classOf[DotProductF]),
        (e: Seq[Expression]) => DotProductF(e(0), e(1))))

  def registerTo(spark: SparkSession): Unit =
    functions.foreach { case (id, inf, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, inf, builder)
    }

  // ---- Column API ------------------------------------------------------

  private def expr2(f: (Expression, Expression) => Expression)
                   (a: Column, b: Column): Column =
    GraftShim.column(f(GraftShim.expression(a), GraftShim.expression(b)))

  /** Codegen'd cosine similarity over two array<float> columns. */
  def cosine(a: Column, b: Column): Column = expr2(CosineSimilarity.apply)(a, b)

  /** Codegen'd dot product over two array<float> columns. */
  def dot(a: Column, b: Column): Column = expr2(DotProductF.apply)(a, b)
}
