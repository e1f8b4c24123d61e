package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkStrategy
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan}
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.query.{ShardServe, Wand}

/** Whole-operator Catalyst integration for BM25 WAND retrieval (SURVEY §4
  * item 6, the (c)-tier of the custom-operator ladder): a logical leaf node
  * planned by an injected [[Strategy]] into a physical operator whose
  * doExecute runs the per-shard block-max WAND kernel. The node emits
  * per-task candidates (query_id, doc_id, score); the global top-k rank
  * remains declarative on top, so Catalyst still owns the final exchange.
  *
  * Semantics are identical to [[graft.query.Wand.search]]; this packaging
  * makes the retrieval operator a first-class plan citizen (visible in
  * explain, composable with further relational ops, strategy-injected via
  * [[GraftExtensions]]).
  */
final case class Bm25TopKPlan(indexDir: String, queries: Seq[(Long, String)],
                              k: Int,
                              // a case-class FIELD so tree copies keep exprIds
                              override val output: Seq[Attribute] = Bm25TopKPlan.schema)
    extends LeafNode {
  override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(queries.size.toLong * k * 24))
}

object Bm25TopKPlan {
  private[plans] def schema: Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("doc_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())

  /** Public API: plan-integrated WAND search, rank-identical to
    * Wand.search. Requires [[Bm25Strategy]] (GraftExtensions or the
    * programmatic register below).
    */
  def search(spark: SparkSession, indexDir: String,
             queries: Seq[(Long, String)], k: Int): DataFrame = {
    registerOnce(spark)
    ShardServe.globalRank(org.apache.spark.sql.graftbridge.ColumnBridge
      .ofRows(spark, Bm25TopKPlan(indexDir, queries, k)), k)
  }

  def registerOnce(spark: SparkSession): Unit =
    if (!spark.sessionState.planner.extraPlanningStrategies.contains(Bm25Strategy) &&
        !spark.experimental.extraStrategies.contains(Bm25Strategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ Bm25Strategy
}

/** Plans the logical node into the physical WAND operator. */
object Bm25Strategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case p @ Bm25TopKPlan(dir, queries, k, _) =>
      Bm25TopKExec(dir, queries, k, p.output) :: Nil
    case _ => Nil
  }
}

/** Physical WAND operator: the shared shard-kernel driver
  * ([[graft.query.ShardServe]]) behind [[graft.query.Wand.search]] — term
  * pushdown scan, shard-capped exchange, per-task heaps — emitting the
  * pre-rank candidates; the rank above this node stays declarative.
  */
final case class Bm25TopKExec(indexDir: String, queries: Seq[(Long, String)],
                              k: Int,
                              override val output: Seq[Attribute])
    extends LeafExecNode {

  override protected def doExecute(): RDD[InternalRow] = {
    val snap = graft.index.PackedIndex.snapshot(indexDir)
    Wand.candidates(session, snap, Wand.prepare(session, snap, queries), k)
      .queryExecution.toRdd
  }
}
