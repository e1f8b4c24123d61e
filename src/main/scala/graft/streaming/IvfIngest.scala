package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous ingestion into the PERSISTED IVF index — the dense sibling of
  * [[IndexIngest]]: a Structured Streaming source of (vec_id, vec) rows
  * drives the same build/append path as batch. The first non-empty batch
  * TRAINS the index (seed + Lloyd over that batch — the faiss train-on-
  * first-shard pattern); every later batch appends against the frozen
  * centroids as one atomic segment flip, so a concurrent search sees the
  * index grow atomically and the streamed result is identical to batch
  * build-then-append over the same rows (IvfIngestSpec). The streaming
  * checkpoint composes with the segment list exactly as IndexIngest's does
  * with the packed index's commit record.
  */
object IvfIngest {

  def start(spark: SparkSession, srcDir: String,
            schema: org.apache.spark.sql.types.StructType,
            indexDir: String, nCells: Int, iters: Int = 3,
            maxFilesPerTrigger: Int = 1): StreamingQuery = {
    // Exactly-once across foreachBatch REPLAYS: every batch (including the
    // bootstrap) lands in a segment NAMED BY ITS BATCH ID. A crash between
    // the index commit and the stream's checkpoint write re-delivers the
    // batch; the named-segment no-op in IvfIndex.append (and build's
    // idempotent overwrite when cells.list never flipped) makes the replay
    // re-land on the same segment instead of duplicating vectors.
    val handler: (DataFrame, Long) => Unit = (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val seg = s"cells-b$batchId"
        if (!graft.io.MetaIO.exists(s"$indexDir/cells.list"))
          graft.ann.IvfIndex.build(batch, indexDir, nCells, iters,
            segmentName = seg)
        else
          graft.ann.IvfIndex.append(batch, indexDir, segmentName = Some(seg))
      }
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .parquet(srcDir)
      .writeStream
      .foreachBatch(handler)
      .option("checkpointLocation", s"$indexDir/_stream_checkpoint")
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
  }
}
