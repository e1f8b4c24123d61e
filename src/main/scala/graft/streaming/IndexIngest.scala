package graft.streaming

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Continuous index ingestion (SURVEY §2.10): a Structured Streaming source
  * of raw pages drives the SAME build/append path as batch — each
  * micro-batch lands as one crash-safe index commit (group parquet →
  * commit record, exactly [[graft.index.PackedIndex.append]]'s protocol),
  * so a query running against the index sees atomic corpus growth and the
  * result of the streamed ingest is BIT-IDENTICAL to a batch rebuild over
  * the same pages (append == rebuild is pinned by AppendSpec; the streaming
  * wrapper adds no third code path).
  *
  * The streaming checkpoint (source offsets) lives next to the index, so a
  * restarted stream resumes from the last UNPROCESSED file while the index's
  * commit record makes a half-applied batch idempotent to retry — the two
  * recovery mechanisms compose.
  */
object IndexIngest {

  /** Start ingesting page files from `srcDir` into the packed index at
    * `indexDir`. The first non-empty batch bootstraps the index (full
    * build); every later batch appends.
    */
  def start(spark: SparkSession, srcDir: String, schema: org.apache.spark.sql.types.StructType,
            indexDir: String, shardBits: Int = 12, groups: Int = 1,
            maxFilesPerTrigger: Int = 1): StreamingQuery = {
    val handler: (DataFrame, Long) => Unit = (batch: DataFrame, _: Long) =>
      if (!batch.isEmpty) {
        if (!graft.index.PackedIndex.exists(indexDir))
          graft.corpus.PagesPipeline.buildIndex(batch, indexDir, shardBits, groups)
        else
          graft.corpus.PagesPipeline.appendPages(batch, indexDir)
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
