package graft

import graft.index.PackedIndex
import graft.plans.ShardKernelExec
import graft.query.{MoreLikeThis, Phrase, PositionalQuery, Wand}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Every shard-kernel path is planned through the one strategy-planned
  * [[ShardKernelExec]], at the shard layout's partition count, and the
  * node reports what it served.
  */
class Bm25PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** The kernel nodes of `df`'s executed plan, run first so AQE finalizes it. */
  private def kernels(df: DataFrame): Seq[ShardKernelExec] = {
    df.collect()
    collect(df.queryExecution.executedPlan) { case e: ShardKernelExec => e }
  }

  test("every serving path plans exactly one ShardKernelExec") {
    val dir = scratchDir("planop")
    MultiGroupIndex.build(spark, dir)
    val batch = spark.createDataFrame(MultiGroupIndex.Queries).toDF("query_id", "text")
    val paths = Seq(
      "Wand.search" -> Wand.search(spark, dir, MultiGroupIndex.Queries, 10),
      "one-chunk searchDs" -> Wand.searchDs(spark, dir, batch, 10, chunkSize = 100),
      "Phrase.search" -> Phrase.search(spark, dir,
        Seq(0L -> PositionalQuery.PhraseMatch(MultiGroupIndex.PhraseTerms)), 10),
      "MoreLikeThis.search" -> MoreLikeThis.search(spark, dir,
        MultiGroupIndex.Docs.take(2), maxTerms = 5, k = 10))
    for ((name, df) <- paths) {
      val n = kernels(df).size
      assert(n == 1, s"$name planned $n ShardKernelExec nodes:\n" +
        df.queryExecution.executedPlan)
    }
  }

  test("the kernel runs at min(defaultParallelism x 4, numShards) partitions under AQE") {
    assert(spark.conf.get("spark.sql.adaptive.enabled").toBoolean)
    // 200 docs: 50 shards at shardBits 2 (above 4 x 4 cores), 13 at 4
    for (shardBits <- Seq(2, 4)) {
      val dir = scratchDir(s"planop-parts$shardBits")
      MultiGroupIndex.build(spark, dir, shardBits)
      val shards = PackedIndex.snapshot(dir).numShards
      val execs = kernels(Wand.search(spark, dir, MultiGroupIndex.Queries, 10))
      assert(execs.size == 1)
      val parts = execs.head.execute().getNumPartitions
      val want = math.min(spark.sparkContext.defaultParallelism * 4, shards)
      assert(parts == want && parts <= shards,
        s"ShardKernelExec ran $parts partitions over $shards shards, want $want")
    }
  }

  test("kernel metrics: shard groups served, postings rows in, candidate rows out") {
    val dir = scratchDir("planop-metrics")
    MultiGroupIndex.build(spark, dir)
    val shards = PackedIndex.snapshot(dir).numShards
    val batch = spark.createDataFrame(MultiGroupIndex.Queries).toDF("query_id", "text")
    def metrics(df: DataFrame): Map[String, Long] = {
      val execs = kernels(df)
      assert(execs.size == 1)
      execs.head.metrics.map { case (name, m) => name -> m.value }
    }
    val seq = metrics(Wand.search(spark, dir, MultiGroupIndex.Queries, 10))
    val ds = metrics(Wand.searchDs(spark, dir, batch, 10, chunkSize = 100))
    assert(seq("shards") > 0 && seq("shards") <= shards, s"$seq over $shards shards")
    assert(seq("inputRows") >= seq("shards"), seq.toString)
    assert(seq("numOutputRows") > 0 && seq("numOutputRows") == ds("numOutputRows"),
      s"Wand.search $seq vs one-chunk searchDs $ds")
  }
}
