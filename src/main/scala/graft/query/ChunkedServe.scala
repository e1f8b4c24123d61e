package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Chunked-batch serving machinery shared by every Dataset-typed query
  * surface ([[Wand.searchDs]], [[Phrase.searchDs]]): a (query_id, text)
  * DataFrame is processed in deterministic chunks of `chunkSize`
  * (chunk = pmod(xxhash64(query_id), numChunks) — arithmetic id patterns
  * would land whole batches in one chunk; equal ids share a chunk), each
  * chunk riding the caller's Seq-batch kernel while the index-side scan
  * plan stays identical per chunk.
  *
  * Nothing is staged. Above one chunk:
  *  1. The driver cuts chunk c as `filter(chunk === c)` over the query
  *     frame and collects it. On a local batch (a driver-built frame, the
  *     usual shape) Catalyst folds that filter into the local relation, so
  *     cutting a chunk runs no job at all. On a scanned query table it is
  *     one scan of the table per chunk: that is the trade. Staging the
  *     batch to scratch storage would scan it once, but pays a write and a
  *     read-back per chunk on every batch, local ones included.
  *  2. Each chunk's hits are pinned in the block manager by an eager
  *     `localCheckpoint`, so the chunk's kernel job runs exactly once and
  *     the returned frame never re-runs it. A bounded pool runs at most
  *     four chunks concurrently, so the driver holds at most four chunks
  *     of `chunkSize` queries.
  *  3. ACCOUNTING: the chunk sizes must sum to the batch count, so a query
  *     frame whose rows differ between executions (a source that changed
  *     mid-call, a nondeterministic query column) FAILS LOUDLY instead of
  *     silently returning a subset or a superset of results.
  *  4. The result is the union of the pinned chunk frames: bounded
  *     (at most n*k rows), and independent of any scratch storage.
  */
private[graft] object ChunkedServe {

  /** `searchSeq` answers one bounded chunk, returning
    * (query_id, doc_id, score, rank); `label` prefixes failure messages.
    * A batch of at most one chunk short-circuits straight to `searchSeq`,
    * settled by one bounded collect of up to `chunkSize + 1` rows; only a
    * larger batch pays the count.
    */
  def serve(queries: DataFrame, chunkSize: Int, label: String)(
      searchSeq: Seq[(Long, String)] => DataFrame): DataFrame = {
    require(chunkSize > 0 && chunkSize < Int.MaxValue,
      s"$label: chunkSize must be in [1, Int.MaxValue)")
    val q = queries.select(col("query_id").cast("long"), col("text").cast("string"))
    val head = q.limit(chunkSize + 1).collect()
    if (head.length <= chunkSize)
      return searchSeq(head.map(r => r.getLong(0) -> r.getString(1)).toSeq)
    val n = q.count()
    val numChunks = (n + chunkSize - 1) / chunkSize
    val chunkOf = pmod(xxhash64(col("query_id")), lit(numChunks))
    // (queries in chunk c, its pinned hits; None for an empty chunk)
    def runChunk(c: Long): (Long, Option[DataFrame]) = {
      val chunk = q.filter(chunkOf === c).select(col("query_id"), col("text"))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
      chunk.length.toLong ->
        (if (chunk.isEmpty) None else Some(searchSeq(chunk).localCheckpoint()))
    }
    val done: Seq[(Long, Option[DataFrame])] = {
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration.Duration
      val width = math.min(numChunks, 4L).toInt
      val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(
        Future.sequence((0L until numChunks).map(c => Future(runChunk(c)))), Duration.Inf)
      finally pool.shutdown()
    }
    val served = done.map(_._1).sum
    require(served == n,
      s"$label: query batch changed while it was served — counted $n queries " +
        s"but its $numChunks chunks held $served (the query frame must return " +
        "the same rows on every execution)")
    done.flatMap(_._2).reduce(_ union _)
  }
}
