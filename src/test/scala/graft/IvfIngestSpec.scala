package graft

import graft.ann.IvfIndex
import graft.streaming.IvfIngest
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Streaming IVF ingestion: micro-batch appends over a file stream must
  * serve identically to batch build-then-append over the same vectors.
  */
class IvfIngestSpec extends SparkSpec {
  import spark.implicits._

  private def vecs(lo: Long, hi: Long) = {
    // deterministic per-id vectors so stream and batch see identical rows
    spark.range(lo, hi, 1L, 4).map { i =>
      val rnd = new scala.util.Random(1000 + i)
      (i, Seq.fill(12)(rnd.nextGaussian()))
    }.toDF("vec_id", "vec")
  }

  test("streamed IVF ingest == batch build + appends, identical search") {
    val srcDir = scratchDir("ivfing-src")
    val idxStream = scratchDir("ivfing-idx")
    val idxBatch = scratchDir("ivfing-ref")

    // reference: batch build over the FIRST slice (it trains the
    // centroids), then batch appends of the later slices — the exact
    // protocol the stream drives
    IvfIndex.build(vecs(0, 100), idxBatch, nCells = 8, iters = 3)
    IvfIndex.append(vecs(100, 200), idxBatch)
    IvfIndex.append(vecs(200, 300), idxBatch)

    val q = IvfIngest.start(spark, srcDir, vecs(0, 1).schema,
      idxStream, nCells = 8, iters = 3)
    try {
      Seq((0L, 100L), (100L, 200L), (200L, 300L)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          val tmp = scratchDir(s"ivfing-b$i")
          vecs(lo, hi).coalesce(1).write.parquet(tmp + "/w")
          new java.io.File(tmp + "/w").listFiles()
            .filter(_.getName.endsWith(".parquet")).zipWithIndex
            .foreach { case (f, j) =>
              Files.move(f.toPath,
                java.nio.file.Paths.get(srcDir, s"batch$i-$j.parquet"))
            }
          q.processAllAvailable()
      }
    } finally q.stop()

    // same trained centroids (first batch is identical) -> identical hits
    val cS = IvfIndex.snapshot(idxStream).centroids.map { case (id, v) => id -> v.toSeq }
    val cB = IvfIndex.snapshot(idxBatch).centroids.map { case (id, v) => id -> v.toSeq }
    assert(cS.toSeq == cB.toSeq && cS.nonEmpty)
    val queries = vecs(500, 504)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    def rows(dir: String) = IvfIndex.search(spark, dir, queries, k = 10, nProbe = 4)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
        r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet
    val a = rows(idxStream)
    assert(a == rows(idxBatch) && a.nonEmpty)
    // hits span appended segments, not just the bootstrap batch
    assert(a.exists(_._2 >= 100L))
  }
}
