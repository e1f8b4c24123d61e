package graft.query

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import graft.core.Bm25Params
import graft.index.InvertedIndex

/** Batched multi-query BM25 over the flat postings index — the declarative
  * query path (the packed/WAND physical path is [[graft.query.Wand]]).
  *
  * Plan shape for a query batch:
  *   queries --tokenize--> (query_id, term, q_mult)   [tiny, broadcast]
  *   postings ⋈ query_terms (broadcast hash join; the `term IN (...)`
  *   restriction prunes the postings scan) ⋈ idf (broadcast) ⋈ doc_lens
  *   --> groupBy(query_id, doc_id) sum  --> per-query top-k window
  *   ([[ShardServe.globalRank]]).
  *
  * The only big shuffle is the final (query_id, doc_id) aggregation whose
  * input is already restricted to matched postings. Per-query top-k uses a
  * window partitioned by query_id — parallel across queries, deterministic
  * docId-asc tiebreak (reference rank assignment:
  * `/root/reference/src/retrievals/pipelines/retrieve.py:29-40`).
  */
object Bm25Query {

  /** (query_id, term, q_mult) from a (query_id, text) frame. Duplicate terms
    * in one query contribute once per occurrence (reference loops over raw
    * tokens at retrieval_auto.py:390-391).
    */
  def queryTerms(queries: DataFrame, idCol: String = "query_id",
                 textCol: String = "text"): DataFrame =
    queries
      .select(col(idCol).cast("long").as("query_id"),
        explode(graft.tokenize.PyTokenize.tokens(col(textCol))).as("term"))
      .groupBy(col("query_id"), col("term"))
      .agg(count(lit(1)).as("q_mult"))

  /** (query_id, doc_id, score) for every (query, matched doc) pair. */
  def scoreBatch(postingsDf: DataFrame, idfDf: DataFrame, docLensDf: DataFrame,
                 avgdl: Double, queryTermsDf: DataFrame,
                 p: Bm25Params = Bm25Params()): DataFrame =
    postingsDf
      .join(broadcast(queryTermsDf), "term")
      .join(broadcast(idfDf.select(col("term"), col("idf"))), "term")
      .join(docLensDf, "doc_id")
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("q_mult") *
        InvertedIndex.bm25Term(col("idf"), col("tf"), col("dl"), lit(avgdl), p))
        .as("score"))

  /** Ranking TSV sink — reference `save_ranking`
    * (`pipelines/retrieve.py:29-40`): `qid \t doc \t score \t rank`,
    * rank assigned per query after sort desc.
    */
  def writeRankingTsv(ranked: DataFrame, path: String): Unit =
    ranked
      .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
      .sortWithinPartitions(col("query_id"), col("rank"))
      .write.mode(SaveMode.Overwrite)
      .option("sep", "\t").option("header", "false")
      .csv(path)
}
