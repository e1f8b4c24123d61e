package graft.corpus

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.Bm25Params
import graft.extract.HtmlText
import graft.index.{DocIds, InvertedIndex, PackedIndex}
import graft.io.TableIO

/** The full north-rule pipeline over the pages table:
  * pages -> byte-identical extraction -> dense docIds -> tokenize ->
  * packed postings index (checkpointed groups) -> WAND top-k queries.
  *
  * Plan shape: extraction and tokenization are narrow (single pass over the
  * pages scan, html column pruned away right after the kernel); docId
  * assignment adds no shuffle; the only wide stages are the posting
  * aggregation and the (shard, term) pack shuffle — see PackedIndex.
  */
object PagesPipeline {

  private val extractUdf = udf((html: Array[Byte]) =>
    if (html == null) null else HtmlText.extractBytes(html))

  /** pages -> (url, warc_ts, lang, text): uses the materialized `text` when
    * present, else runs the extraction kernel on `html` (reference: FileParser
    * populates text once; our invariant is byte-identical re-derivation).
    */
  def extracted(pages: DataFrame): DataFrame =
    pages.select(col("url"), col("warc_ts"), col("lang"),
      coalesce(col("text"), extractUdf(col("html"))).as("text"))

  /** extracted + dense doc_id (0..N-1, layout-stable). */
  def docs(pages: DataFrame): DataFrame =
    DocIds.assignDense(extracted(pages))

  /** (doc_id, terms) for the index build. */
  def tokenized(docsDf: DataFrame): DataFrame =
    InvertedIndex.tokenize(docsDf, "doc_id", "text")

  /** End-to-end index build from raw pages; returns the committed groups.
    * The extraction output is staged to parquet under the index dir (one
    * extraction pass ever — docId counting and the tokenize consumers scan
    * the staged artifact), making the most expensive stage itself a
    * resumable checkpoint.
    */
  def buildIndex(pages: DataFrame, dir: String, shardBits: Int = 0,
                 groups: Int = 4, p: Bm25Params = Bm25Params()): Seq[PackedIndex.GroupManifest] = {
    val spark = pages.sparkSession
    val rawPath = s"$dir/docs_raw"
    // ONE staged artifact: extracted text WITH dense doc_id. Tokenization is
    // re-derived on the fly by each consumer (cheap, narrow), so the build
    // never writes/reads the much larger terms-array form, and the group
    // jobs' doc_id range predicates push straight into this parquet.
    // read back with the writer's schema: assignDense appends doc_id
    val ext = extracted(pages)
    if (!TableIO.committed(rawPath)) TableIO.write(DocIds.assignDense(ext), rawPath)
    val raw = TableIO.read(spark, ext.schema.add("doc_id", LongType), rawPath)
    PackedIndex.build(tokenized(raw), dir, shardBits, groups, p, stageInput = false)
  }

  /** Incremental ingest: extract + append new pages to an existing index
    * (docIds continue above the current corpus; result is bit-identical to
    * a full rebuild over old+new — see PackedIndex.append).
    */
  def appendPages(newPages: DataFrame, dir: String): PackedIndex.GroupManifest = {
    val spark = newPages.sparkSession
    // one snapshot names the staging group and offsets the ids, and the
    // append commits onto it: a retry after a crash before the commit sees
    // the same committed version, so it reuses the staging dir and offsets
    // the ids exactly as the crashed attempt did
    val snap = PackedIndex.snapshot(dir)
    val rawPath = s"$dir/docs_raw_append_${snap.nextGroup}"
    val ext = extracted(newPages)
    if (!TableIO.committed(rawPath)) TableIO.write(ext, rawPath)
    val raw = TableIO.read(spark, ext.schema, rawPath)
    val withIds = DocIds.assignDense(raw)
      .withColumn("doc_id", col("doc_id") + snap.nextDocId)
    PackedIndex.append(tokenized(withIds), snap)
  }
}
