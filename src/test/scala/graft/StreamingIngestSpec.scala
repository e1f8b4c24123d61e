package graft

import graft.corpus.{PagesGen, PagesPipeline}
import graft.query.Wand
import graft.streaming.IndexIngest
import java.nio.file.Files

/** Streaming index ingestion: micro-batch appends over a file stream must
  * produce an index bit-identical to one batch build over the same pages.
  */
class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def pagesRange(lo: Long, hi: Long) =
    spark.range(lo, hi, 1L, 4).map(i => PagesGen.gen(i, seed = 42)).toDF()

  test("foreachBatch ingest == batch rebuild, bit-identical") {
    val srcDir = scratchDir("ingest-src")
    val idxStream = scratchDir("ingest-idx")
    val idxBatch = scratchDir("ingest-ref")

    // reference: one batch build over all 300 pages
    PagesPipeline.buildIndex(pagesRange(0, 300), idxBatch, shardBits = 6, groups = 1)

    // stream the same pages in 3 strictly-ordered micro-batches: write one
    // file, drain the stream, write the next (dense docIds continue across
    // batches exactly like batch appends)
    val q = IndexIngest.start(spark, srcDir, pagesRange(0, 1).schema,
      idxStream, shardBits = 6, groups = 1)
    try {
      Seq((0L, 100L), (100L, 200L), (200L, 300L)).zipWithIndex.foreach {
        case ((lo, hi), i) =>
          // the file source lists FLAT files under srcDir: stage the batch
          // then move its part files in as uniquely-named leaves
          val tmp = scratchDir(s"ingest-b$i")
          pagesRange(lo, hi).coalesce(1).write.parquet(tmp + "/w")
          new java.io.File(tmp + "/w").listFiles()
            .filter(_.getName.endsWith(".parquet")).zipWithIndex
            .foreach { case (f, j) =>
              Files.move(f.toPath,
                java.nio.file.Paths.get(srcDir, s"batch$i-$j.parquet"))
            }
          q.processAllAvailable()
      }
    } finally q.stop()

    val sS = graft.index.PackedIndex.snapshot(idxStream).stats
    val sB = graft.index.PackedIndex.snapshot(idxBatch).stats
    assert(sS.n == sB.n && sS.n == 300L)
    assert(sS.avgdl == sB.avgdl)       // exact Long-sum reconstruction
    assert(sS.avgRawIdf == sB.avgRawIdf)

    // identical search results, raw doubles included
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000")
    def rows(dir: String) = Wand.search(spark, dir, queries, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap
    val a = rows(idxStream)
    assert(a == rows(idxBatch))
    assert(a.nonEmpty)

    // restart recovery: a new stream over the same checkpoint re-processes
    // nothing (offsets committed), so the index is unchanged
    val q2 = IndexIngest.start(spark, srcDir,
      pagesRange(0, 1).schema, idxStream, shardBits = 6, groups = 1)
    try q2.processAllAvailable() finally q2.stop()
    assert(graft.index.PackedIndex.snapshot(idxStream).stats.n == 300L)
  }
}
