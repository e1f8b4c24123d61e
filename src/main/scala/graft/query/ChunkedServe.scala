package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType}
import graft.io.{MetaIO, TableIO}

/** Chunked-batch serving machinery shared by every Dataset-typed query
  * surface ([[Wand.searchDs]], [[Phrase.searchDs]]): a (query_id, text)
  * DataFrame is processed in deterministic chunks of `chunkSize`
  * (chunk = hash(query_id) mod numChunks — arithmetic id patterns would
  * land whole batches in one chunk), each chunk riding the caller's
  * Seq-batch kernel while the index-side scan plan stays identical per
  * chunk.
  *
  * Scale shape (flat in batch size):
  *  1. ONE pass over the query table assigns chunk ids and writes the
  *     batch chunk-partitioned to staging — the query table is never
  *     rescanned per chunk.
  *  2. Chunk ACCOUNTING comes from reading the staged table back through
  *     the same TableIO (one tiny per-chunk count agg; every staged read
  *     passes the schema of the frame written there, so none infers it):
  *     the per-chunk counts must sum to the batch size, so staged data that is not
  *     visible to the readers (wrong staging storage, eventual-consistency
  *     lag, a vanished partition) FAILS LOUDLY instead of silently
  *     returning a subset of results. No driver-local filesystem probe
  *     anywhere — the path works unchanged on shared storage.
  *  3. Each chunk job reads ONLY its own partition (partition-pruned
  *     filter on the staged table), verifies it collected exactly the
  *     accounted rows, and writes its hits to its own sink partition. A
  *     failed chunk job is retried idempotently (overwrite of its dir).
  *     Chunk jobs are independent (disjoint query sets, disjoint sink
  *     dirs) — a bounded pool submits a few concurrently so one chunk's
  *     straggler/IO tail overlaps the next chunk's work.
  *  4. The result is ONE scan of the sink — no N-leg union lineage, no
  *     driver-side result accumulation. With the default (engine-created)
  *     staging dir the result is materialized via localCheckpoint and the
  *     staging dir deleted (also when the call fails); a caller-supplied
  *     `stagingDir` is left intact (the caller owns its lifecycle, e.g.
  *     for resume/debugging) and the returned frame scans it lazily. Any
  *     stale `hits/` content in a reused staging dir is removed up front —
  *     a larger prior batch's leftover chunk partitions would otherwise be
  *     unioned into this batch's results by the final sink scan.
  */
private[graft] object ChunkedServe {

  /** `searchSeq` answers one bounded chunk, returning
    * (query_id, doc_id, score, rank); `label` prefixes failure messages.
    * A batch of at most one chunk short-circuits straight to `searchSeq`
    * (staging would only add a write+read round-trip), settled by one
    * bounded collect of up to `chunkSize + 1` rows; only a larger batch
    * pays the count. `io` is a fault-injection seam for tests; the engine
    * always passes the default.
    */
  def serve(spark: SparkSession, queries: DataFrame, chunkSize: Int,
            stagingDir: Option[String], label: String,
            io: TableIO = TableIO)(
      searchSeq: Seq[(Long, String)] => DataFrame): DataFrame = {
    require(chunkSize > 0 && chunkSize < Int.MaxValue,
      s"$label: chunkSize must be in [1, Int.MaxValue)")
    val q = queries.select(col("query_id").cast("long"), col("text").cast("string"))
    val head = q.limit(chunkSize + 1).collect()
    if (head.length <= chunkSize)
      return searchSeq(head.map(r => r.getLong(0) -> r.getString(1)).toSeq)
    val n = q.count()
    val numChunks = (n + chunkSize - 1) / chunkSize
    val ownStaging = stagingDir.isEmpty
    val staging = stagingDir.getOrElse(MetaIO.createTempDir("graft-searchds"))
    try {
      // a prior larger batch's chunk partitions would otherwise union into
      // this batch's sink scan (the silent-superset bug class)
      io.deleteIfExists(s"$staging/hits")
      val toStage = q.withColumn("chunk", pmod(xxhash64(col("query_id")), lit(numChunks)))
      io.write(toStage, s"$staging/queries", partitionBy = Seq("chunk"))
      // accounting read-back (step 2 above): same TableIO the chunk jobs use
      def staged = io.read(spark, toStage.schema, s"$staging/queries")
      val perChunk: Map[Long, Long] = staged
        .groupBy(col("chunk")).count()
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val stagedTotal = perChunk.values.sum
      require(stagedTotal == n,
        s"$label: staged query batch incomplete — wrote $n queries but " +
          s"$stagedTotal are readable at $staging/queries (staging storage " +
          "not shared with the readers, or partitions vanished)")
      def runChunk(c: Long): StructType = {
        val chunk = staged
          .filter(col("chunk") === c) // partition-pruned
          .select(col("query_id"), col("text"))
          .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
        require(chunk.length.toLong == perChunk(c),
          s"$label: staged chunk $c holds ${chunk.length} of the " +
            s"${perChunk(c)} accounted queries — partition vanished mid-run")
        val hits = searchSeq(chunk)
        io.write(hits, s"$staging/hits/chunk=$c")
        hits.schema
      }
      val written: Seq[StructType] = {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val chunks = perChunk.keys.toSeq.sorted
        val width = math.min(chunks.size, 4)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(width)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(
          Future.sequence(chunks.map(c => Future(runChunk(c)))), Duration.Inf)
        finally pool.shutdown()
      }
      val out = io.read(spark, written.head.add("chunk", LongType), s"$staging/hits")
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
      // results are bounded (<= n*k rows — the caller's answer either way);
      // pin them so the scratch dir can be reclaimed immediately
      if (ownStaging) out.localCheckpoint() else out
    } finally if (ownStaging) MetaIO.deleteRecursively(staging) // failed runs too
  }
}
