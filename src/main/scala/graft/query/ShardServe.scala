package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import graft.plans.{ShardKernel, ShardKernelStrategy}

/** The one serving driver behind every shard-kernel path — WAND scoring
  * ([[Wand.search]], [[Wand.searchDs]], [[MoreLikeThis]]) and positional
  * counts ([[Phrase.search]] and its one-query siblings):
  *
  *   term-filtered postings rows (packed or positional)
  *     -> [[kernelHits]]: the plan node [[graft.plans.ShardKernel]]; its
  *        exec reads the rows in [[Layout]], so one streaming pass sees
  *        whole doc-shards, keeps ONE [[TopKHeap]] per query per task, and
  *        emits <= k rows per query
  *     -> [[globalRank]]: per-query row_number by (score desc, doc_id asc)
  *        over numTasks x k candidate rows.
  *
  * Results do not depend on how shards fall into tasks: a doc in the global
  * top-k is in the top-k of every covering subset, and the heap's
  * (score desc, doc asc) order is exactly the rank window's.
  */
object ShardServe {

  final case class Hit(query_id: Long, doc_id: Long, score: Double)

  /** The shard layout a kernel reads: clustered on `shard` into
    * [[kernelPartitions]] partitions, sorted by (shard, term). The one rule
    * behind [[shardPartitioned]] and the kernel exec's child requirements.
    */
  val Layout: Seq[String] = Seq("shard", "term")

  /** The kernel's partition count. Explicit: the kernel stage is
    * compute-bound per shard group, not bytes-bound — AQE's byte-based
    * coalescing would pack the (small, compressed) matched postings into a
    * handful of long serial tasks; a required count is exempt from it.
    * Capped at `numShards` ([[graft.index.IndexSnapshot.numShards]]):
    * hash-on-shard cannot fill more partitions than distinct shards.
    */
  def kernelPartitions(spark: SparkSession, numShards: Int): Int =
    math.max(math.min(spark.sparkContext.defaultParallelism * 4, numShards), 1)

  /** `rows` in [[Layout]], for a caller that pins them and serves many
    * batches from the pin ([[Wand.searchDs]]): a kernel over it plans no
    * exchange and no sort.
    */
  def shardPartitioned[T](spark: SparkSession, numShards: Int,
                          rows: Dataset[T]): Dataset[T] =
    rows.repartition(kernelPartitions(spark, numShards), col(Layout.head))
      .sortWithinPartitions(Layout.map(col): _*)

  /** The pre-rank candidates (query_id, doc_id, score) of a `name`d
    * [[ShardKernel.Kernel]] over the postings `rows` (any row type with
    * `shard` and `term` columns) of an index of `numShards` shards.
    */
  def kernelHits[T](spark: SparkSession, rows: Dataset[T], numShards: Int,
                    name: String, k: Int, queryIds: () => Array[Long])(
      perShard: (Iterator[T], Array[TopKHeap]) => Unit): DataFrame = {
    ShardKernelStrategy.register(spark)
    ColumnBridge.ofRows(spark, ShardKernel(
      new ShardKernel.Kernel(name, rows.encoder, k, queryIds)(perShard),
      kernelPartitions(spark, numShards), rows.queryExecution.analyzed))
  }

  /** No candidates, in [[kernelHits]]' schema. */
  def emptyHits(spark: SparkSession): DataFrame =
    spark.emptyDataset(Encoders.product[Hit]).toDF()

  /** Per-query global rank: (query_id, doc_id, score, rank), rank 1..k by
    * (score desc, doc_id asc); `k <= 0` ranks every candidate.
    */
  def globalRank(hits: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    val ranked = hits.withColumn("rank", row_number().over(w))
    if (k > 0) ranked.filter(col("rank") <= k) else ranked
  }

  /** Bounded top-k heap keeping the k best under (score desc, docId asc);
    * root is the WORST kept entry. Primitive parallel arrays — kernels run
    * millions of offers per task, so the heap must be allocation-free.
    * Storage is allocated on the first offer: the kernel creates one
    * heap per query per task, and most queries touch few tasks. Positional
    * counts are offered as `cnt.toDouble` (exact below 2^53, and the same
    * order as (count desc, doc asc)). Also the dense brute-force kernel's
    * heap ([[graft.ann.Ann]]) — the faiss ResultHeap analogue
    * (retrieval_auto.py:335-347).
    */
  final class TopKHeap(k: Int) {
    private var scores = Array.emptyDoubleArray
    private var docs = Array.emptyLongArray
    private var n = 0

    // "less" = worse = lower score, then larger docId (root is worst kept)
    @inline private def worse(s1: Double, d1: Long, s2: Double, d2: Long): Boolean =
      s1 < s2 || (s1 == s2 && d1 > d2)

    def size: Int = n
    def threshold: Double = if (n < k) Double.NegativeInfinity else scores(0)

    // k = Int.MaxValue ("all") starts at 1024 slots and grows on demand
    private def grow(): Unit = {
      val len = if (n == 0) math.min(k, 1024) else n * 2
      scores = java.util.Arrays.copyOf(scores, len)
      docs = java.util.Arrays.copyOf(docs, len)
    }

    private def siftUp(i0: Int): Unit = {
      var i = i0
      while (i > 0) {
        val par = (i - 1) >> 1
        if (worse(scores(i), docs(i), scores(par), docs(par))) {
          val ts = scores(i); val td = docs(i)
          scores(i) = scores(par); docs(i) = docs(par)
          scores(par) = ts; docs(par) = td
          i = par
        } else return
      }
    }

    private def siftDown(): Unit = {
      var i = 0
      while (true) {
        val l = 2 * i + 1
        if (l >= n) return
        val r = l + 1
        var m = l
        if (r < n && worse(scores(r), docs(r), scores(l), docs(l))) m = r
        if (worse(scores(m), docs(m), scores(i), docs(i))) {
          val ts = scores(i); val td = docs(i)
          scores(i) = scores(m); docs(i) = docs(m)
          scores(m) = ts; docs(m) = td
          i = m
        } else return
      }
    }

    def offer(score: Double, doc: Long): Unit = {
      if (n < k) {
        if (n == scores.length) grow()
        scores(n) = score; docs(n) = doc; n += 1
        siftUp(n - 1)
      } else if (worse(scores(0), docs(0), score, doc)) {
        scores(0) = score; docs(0) = doc
        siftDown()
      }
    }

    def drain(): List[(Double, Long)] = {
      var out = List.empty[(Double, Long)]
      var i = 0
      while (i < n) { out = (scores(i), docs(i)) :: out; i += 1 }
      out
    }
  }
}
