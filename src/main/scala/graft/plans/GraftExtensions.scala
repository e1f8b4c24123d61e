package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.expressions.Expression

/** Engine extension surface: registers graft's native expressions for SQL
  * use and the shard-kernel planner strategy. Activate with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")` or
  * programmatically via [[GraftFunctions.register]] (the strategy registers
  * itself on first use: [[ShardKernelStrategy.register]]).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction(GraftFunctions.pyWsTokenizeDescriptor)
    e.injectPlannerStrategy(_ => ShardKernelStrategy)
  }
}

object GraftFunctions {
  import org.apache.spark.sql.catalyst.FunctionIdentifier
  import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
  import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

  private[plans] val pyWsTokenizeDescriptor
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("py_ws_tokenize"),
    new ExpressionInfo(classOf[PyWsTokenize].getName, "py_ws_tokenize"),
    (children: Seq[Expression]) => PyWsTokenize(children.head))

  /** Programmatic registration on an existing session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "py_ws_tokenize", exprs => PyWsTokenize(exprs.head), "scala_udf")

  /** Column-level form of the native tokenizer. */
  def py_ws_tokenize(c: Column): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      PyWsTokenize(org.apache.spark.sql.graftbridge.ColumnBridge.expression(c)))
}
