package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._

/** Chunked-batch serving machinery shared by every Dataset-typed query
  * surface ([[Wand.searchDs]], [[Phrase.searchDs]]): a (query_id, text)
  * DataFrame is collected to the driver ONCE ([[collect]]), and the rows
  * are served in deterministic chunks of `chunkSize` (chunk =
  * pmod(xxhash64(query_id), numChunks), the rule of Spark's `xxhash64` —
  * arithmetic id patterns would land whole batches in one chunk; equal ids
  * share a chunk), each chunk riding the caller's Seq-batch kernel while
  * the index-side scan plan stays identical per chunk.
  *
  * Nothing is staged and the query frame runs exactly once:
  *  1. The collect is the only execution of the query frame. On a local
  *     batch (a driver-built frame, the usual shape) it runs no job; on a
  *     scanned query table it is one scan. Chunks are cut from the
  *     collected rows on the driver, so a frame whose rows differ between
  *     executions (a source that changes, a nondeterministic column) is
  *     served as exactly the rows that one execution returned.
  *  2. MEMORY: the driver holds the whole batch, (query_id, text) per
  *     query. For a scanned query table that collect is bounded by
  *     `spark.driver.maxResultSize` and fails loudly above it.
  *  3. Above one chunk, each chunk's hits are pinned in the block manager
  *     by an eager `localCheckpoint`, so the chunk's kernel job runs
  *     exactly once and the returned frame never re-runs it. A bounded
  *     pool runs at most four chunks concurrently.
  *  4. The result is the union of the pinned chunk frames: bounded
  *     (at most n*k rows), and independent of any scratch storage.
  */
private[graft] object ChunkedServe {

  /** The batch's (query_id, text) rows, from one execution of `queries`;
    * `label` prefixes the failure message of a bad `chunkSize`.
    */
  def collect(queries: DataFrame, chunkSize: Int, label: String): Array[(Long, String)] = {
    require(chunkSize > 0 && chunkSize < Int.MaxValue,
      s"$label: chunkSize must be in [1, Int.MaxValue)")
    queries.select(col("query_id").cast("long"), col("text").cast("string"))
      .collect().map(r => r.getLong(0) -> r.getString(1))
  }

  /** `searchSeq` answers one bounded chunk of `batch`, returning
    * (query_id, doc_id, score, rank). A batch of at most one chunk goes
    * straight to `searchSeq`.
    */
  def serve(batch: Array[(Long, String)], chunkSize: Int)(
      searchSeq: Seq[(Long, String)] => DataFrame): DataFrame = {
    if (batch.length <= chunkSize) return searchSeq(batch.toSeq)
    val numChunks = (batch.length + chunkSize - 1) / chunkSize
    val chunks = batch.groupBy { case (id, _) =>
      java.lang.Math.floorMod(XXH64.hashLong(id, 42L), numChunks.toLong)
    }.toSeq.sortBy(_._1).map(_._2)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(chunks.size, 4))
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try Await.result(Future.sequence(chunks.map(chunk =>
      Future(searchSeq(chunk.toSeq).localCheckpoint()))), Duration.Inf).reduce(_ union _)
    finally pool.shutdown()
  }
}
