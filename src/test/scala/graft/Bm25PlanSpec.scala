package graft

import graft.index.PackedIndex
import graft.plans.{Bm25TopKExec, Bm25TopKPlan}
import graft.query.Wand
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** The strategy-planned WAND operator must be plan-visible and
  * bit-identical to the library path.
  */
class Bm25PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
      (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap

  test("Bm25TopKPlan.search == Wand.search, and the exec shows in the plan") {
    val dir = scratchDir("planop")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 7, groups = 2)
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000", 3L -> "absent_only")

    val viaPlan = Bm25TopKPlan.search(spark, dir, queries, 10)

    val a = rows(viaPlan) // execute first so AQE finalizes the plan
    val planStr = viaPlan.queryExecution.executedPlan.toString
    assert(planStr.contains("Bm25TopK"), planStr.take(600))
    val b = rows(Wand.search(spark, dir, queries, 10))
    assert(a == b, "plan-integrated operator diverged from library path")
    assert(a.nonEmpty)
  }

  test("Bm25TopKExec serves through the shard driver: <= numShards partitions") {
    // shardBits = 2 over 16 pages: at most 4 doc-shards, so a shard-keyed
    // repartition has no use for more than 4 kernel tasks
    val dir = scratchDir("planop-shards")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 16, 2).toDF(), dir, shardBits = 2, groups = 2)
    val shards = PackedIndex.snapshot(dir).numShards
    assert(shards >= 2 && shards <= 4, s"fixture has $shards shards")
    val queries = Seq(1L -> "the w3 w17", 2L -> "w1 w2 w5 w8", 3L -> "absent_only")

    val viaPlan = Bm25TopKPlan.search(spark, dir, queries, 5)
    val a = rows(viaPlan)
    val execs = collect(viaPlan.queryExecution.executedPlan) {
      case e: Bm25TopKExec => e
    }
    assert(execs.size == 1, viaPlan.queryExecution.executedPlan.toString)
    val parts = execs.head.execute().getNumPartitions
    assert(parts <= shards,
      s"Bm25TopKExec ran $parts kernel partitions over $shards shards")
    assert(a == rows(Wand.search(spark, dir, queries, 5)),
      "plan-integrated operator diverged from library path")
    assert(a.nonEmpty)
  }
}
