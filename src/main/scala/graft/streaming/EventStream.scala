package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming ingest demo (SURVEY §2.10 — the reference has no
  * streaming path; its incremental hooks `FaissRetrieval.add` /
  * `ElasticRetriever.ingest` map to append-only commits. This module shows
  * the engine's streaming shape over the `events` table: watermarked
  * tumbling-window aggregation whose batch plan is identical, so the same
  * query is oracle-checkable in batch and runnable as a stream.)
  */
object EventStream {

  /** Tumbling-window aggregation — usable in BOTH batch and streaming plans.
    * Output: (window_start_epoch, event_type, n, sum_value_r).
    */
  def windowedAgg(events: DataFrame, windowLen: String = "1 hour"): DataFrame =
    events
      .groupBy(window(col("ts"), windowLen).as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 4).as("sum_value_r"))
      .select(unix_timestamp(col("w.start")).as("window_start"),
        col("event_type"), col("n"), col("sum_value_r"))

  /** Run the same aggregation as a real stream over the parquet dir
    * (file-source micro-batches -> memory sink), synchronously. Watermark
    * bounds state; in production this writes an append-only table (our
    * "incremental index add" analogue).
    */
  def runAsStream(spark: SparkSession, parquetPath: String,
                  windowLen: String = "1 hour",
                  watermark: String = "2 hours"): DataFrame = {
    val schema = spark.read.parquet(parquetPath).schema
    // the file stream source needs a DIRECTORY; stage a single-file input
    val srcDir = {
      val p = java.nio.file.Paths.get(parquetPath)
      if (java.nio.file.Files.isRegularFile(p)) {
        val d = java.nio.file.Files.createTempDirectory("graft-stream-src")
        java.nio.file.Files.copy(p, d.resolve(p.getFileName))
        d.toString
      } else parquetPath
    }
    val stream = spark.readStream.schema(schema).parquet(srcDir)
      // watermarks need TIMESTAMP (with tz); the testdata is TIMESTAMP_NTZ
      .withColumn("ts", col("ts").cast("timestamp"))
      .withWatermark("ts", watermark)
    val agg = windowedAgg(stream, windowLen)
    val name = s"events_window_${System.nanoTime()}"
    val q = agg.writeStream
      .outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.ProcessingTime("1 second"))
      .start()
    try q.processAllAvailable()
    finally {
      q.stop()
      // the memory sink holds the result; a staged single-file copy is done
      if (srcDir != parquetPath) graft.io.MetaIO.deleteRecursively(srcDir)
    }
    spark.table(name)
  }
}
