package graft

import graft.plans.GraftFunctions
import graft.tokenize.PyTokenize
import org.apache.spark.sql.functions._

/** Native PyWsTokenize Catalyst expression: parity with the JVM kernel,
  * SQL registration, and codegen compatibility.
  */
class CatalystExprSpec extends SparkSpec {
  import spark.implicits._

  private val vectors = Seq(
    "a b c", "  a  b  ", "a\tb\nc", "", "   ",
    "a\u00a0b", "a\u2028b", "a\u0085b", "a\u3000b", "a\u200bb",
    "h\u00e9llo w\u00f6rld \u4f60\u597d")

  test("expression matches PyTokenize.split on all vectors") {
    val got = vectors.toDF("s")
      .select(GraftFunctions.py_ws_tokenize(col("s")).as("t"))
      .as[Seq[String]].collect()
    vectors.zip(got).foreach { case (in, out) =>
      assert(out == PyTokenize.split(in).toSeq, s"input=$in")
    }
  }

  test("SQL registration via GraftFunctions.register") {
    GraftFunctions.register(spark)
    val r = spark.sql("SELECT py_ws_tokenize('x\u00a0y z') AS t")
      .as[Seq[String]].head()
    assert(r == Seq("x", "y", "z"))
  }

  test("config-driven GraftExtensions injects the strategy and SQL function") {
    // the shared suite session is built with
    // spark.sql.extensions=graft.plans.GraftExtensions \u2014 both injections
    // must be live WITHOUT any programmatic registration call
    assert(spark.sessionState.planner.extraPlanningStrategies
      .contains(graft.plans.ShardKernelStrategy),
      "ShardKernelStrategy not injected by spark.sql.extensions")
    assert(spark.catalog.functionExists("py_ws_tokenize"),
      "py_ws_tokenize not in the catalog via injectFunction")
  }

  test("expression participates in whole-stage codegen") {
    val df = spark.range(100).select(
      concat(lit("tok"), col("id"), lit(" other")).as("s"))
      .select(size(GraftFunctions.py_ws_tokenize(col("s"))).as("n"))
    // "*(N)" marks operators inside a WholeStageCodegen span
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project") && plan.contains("py_ws_tokenize"),
      plan.take(500))
    assert(df.agg(sum(col("n"))).as[Long].head() == 200L)
  }

  test("null input yields null, non-string input rejected") {
    val r = Seq[(Integer, String)]((1, null)).toDF("i", "s")
      .select(GraftFunctions.py_ws_tokenize(col("s"))).collect()
    assert(r.head.isNullAt(0))
    intercept[Exception] {
      Seq(1).toDF("i").select(GraftFunctions.py_ws_tokenize(col("i"))).collect()
    }
  }
}
