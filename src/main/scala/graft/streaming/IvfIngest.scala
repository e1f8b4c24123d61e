package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous ingestion into the PERSISTED IVF index — the dense sibling of
  * [[IndexIngest]]: a Structured Streaming source of (vec_id, vec) rows
  * drives the same build/append path as batch. The first non-empty batch
  * TRAINS the index (seed + Lloyd over that batch — the faiss train-on-
  * first-shard pattern); every later batch appends against the frozen
  * centroids as one segment and one commit of the index's record
  * (`ivf.json`), so a concurrent search sees the index grow atomically and
  * the streamed result is identical to batch build-then-append over the
  * same rows (IvfIngestSpec). The streaming checkpoint composes with the
  * IVF record exactly as IndexIngest's does with the packed index's.
  */
object IvfIngest {

  def start(spark: SparkSession, srcDir: String,
            schema: org.apache.spark.sql.types.StructType,
            indexDir: String, nCells: Int, iters: Int = 3,
            maxFilesPerTrigger: Int = 1): StreamingQuery = {
    // Exactly-once across foreachBatch REPLAYS: every batch (including the
    // bootstrap) lands in a segment NAMED BY ITS BATCH ID. A crash between
    // the index commit and the stream's checkpoint write re-delivers the
    // batch. It replays onto its named segment against the record: an
    // append whose segment the record already names writes nothing, and a
    // build whose record was never committed overwrites its partial
    // artifacts, so the replay never duplicates vectors.
    val handler: (DataFrame, Long) => Unit = (batch: DataFrame, batchId: Long) =>
      if (!batch.isEmpty) {
        val seg = s"cells-b$batchId"
        if (!graft.ann.IvfIndex.exists(indexDir))
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
