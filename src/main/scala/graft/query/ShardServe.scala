package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one serving driver behind every shard-kernel path — WAND scoring
  * ([[Wand.search]], [[Wand.searchDs]], the plan-integrated
  * [[graft.plans.Bm25TopKExec]]) and positional counts ([[Phrase.search]]
  * and its one-query siblings):
  *
  *   term-filtered postings rows (packed or positional)
  *     -> [[shardPartitioned]]: shard-capped repartition on `shard`, sorted
  *        by (shard, term) so one streaming pass sees whole doc-shards
  *     -> [[kernelHits]]: per task ONE [[TopKHeap]] per query; each shard's
  *        rows go to the caller's per-shard kernel, which offers candidates
  *        into those heaps; the task emits <= k rows per query
  *     -> [[globalRank]]: per-query row_number by (score desc, doc_id asc)
  *        over numTasks x k candidate rows.
  *
  * Results do not depend on how shards fall into tasks: a doc in the global
  * top-k is in the top-k of every covering subset, and the heap's
  * (score desc, doc asc) order is exactly the rank window's.
  */
object ShardServe {

  final case class Hit(query_id: Long, doc_id: Long, score: Double)

  /** Repartition term-filtered postings rows (any row type with `shard` and
    * `term` columns) so each task holds whole doc-shards. Explicit partition
    * count: the kernel stage is compute-bound per shard group, not
    * bytes-bound — AQE's byte-based coalescing would pack the (small,
    * compressed) matched postings into a handful of long serial tasks. A
    * user-specified repartition is exempt from AQE coalescing;
    * sortWithinPartitions then lets one streaming pass group by shard.
    * Capped at `numShards`, the index's shard count
    * ([[graft.index.IndexSnapshot.numShards]]): hash-on-shard cannot use
    * more partitions than distinct shards — the excess were empty tasks.
    */
  def shardPartitioned[T](spark: SparkSession, numShards: Int,
                          rows: Dataset[T]): Dataset[T] = {
    val parts = math.max(math.min(spark.sparkContext.defaultParallelism * 4,
      numShards), 1)
    rows
      .repartition(parts, col("shard"))
      .sortWithinPartitions(col("shard"), col("term"))
  }

  /** Per-task kernel stage over an ALREADY shard-partitioned dataset (so a
    * caller may pin one partitioned dataset and serve many batches from it,
    * as [[Wand.searchDs]] does). `perShard(rows, heaps)` runs once per
    * shard group and offers query i's candidates into `heaps(i)`;
    * `queryIds()` (evaluated once per task, typically from the kernel's
    * broadcast) names query i in the output. Returns the pre-rank
    * candidates (query_id, doc_id, score). `k <= 0` keeps every candidate.
    */
  def kernelHits[T](spark: SparkSession, grouped: Dataset[T], k: Int,
                    queryIds: () => Array[Long])(shardOf: T => Int)(
      perShard: (Iterator[T], Array[TopKHeap]) => Unit): DataFrame = {
    import spark.implicits._
    val kEff = if (k > 0) k else Int.MaxValue
    grouped.mapPartitions { it =>
      val ids = queryIds()
      val heaps = Array.fill(ids.length)(new TopKHeap(kEff))
      val buf = it.buffered
      while (buf.hasNext) {
        val shard = shardOf(buf.head)
        val rows = scala.collection.mutable.ArrayBuffer.empty[T]
        while (buf.hasNext && shardOf(buf.head) == shard) rows += buf.next()
        perShard(rows.iterator, heaps)
      }
      ids.iterator.zip(heaps.iterator).flatMap { case (q, h) =>
        h.drain().iterator.map { case (s, d) => Hit(q, d, s) }
      }
    }.toDF()
  }

  /** No candidates, in [[kernelHits]]' schema. */
  def emptyHits(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Hit].toDF()
  }

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
    * Storage is allocated on the first offer: [[kernelHits]] creates one
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
