package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Retrieval quality metrics as DataFrame transforms — SURVEY §2.4 A5-A9.
  *
  * Faithful to the reference implementations in
  * `/root/reference/src/retrievals/metrics/`:
  *   - recall@k  (fbeta.py:5-22):   hits@k / |positives|, mean over RANKED queries
  *   - hit_rate@k (hit_rate.py:6-33): hits@k / k,          mean over QRELS queries
  *   - mrr@k     (mrr.py:4-25):     1/first-hit-rank if that rank <= k, mean over RANKED queries
  *   - map@k     (map.py:5-35):     sum(precision@hit)/min(|pos|,k), mean over RANKED queries
  *   - ndcg@k    (ndcg.py:6-36):    DCG@k/IDCG@k with binary gains over the FULL
  *                                  ranking list, mean over RANKED queries
  * The denominator asymmetry (hit_rate averages over qrels keys, the rest
  * over ranking keys) is reference behavior, preserved deliberately.
  *
  * Inputs:
  *   ranking: (query_id, doc_id, rank) — rank 1-based, dense per query
  *   qrels:   (query_id, doc_id)      — long-format positives
  * All operations are per-query aggregations after an equi-join on
  * (query_id, doc_id) — shuffle on query_id only; qrels are typically small
  * enough to broadcast.
  */
object RankMetrics {

  /** ranking with a `hit` (0/1) column. */
  def labeled(ranking: DataFrame, qrels: DataFrame): DataFrame =
    ranking.join(
      qrels.select(col("query_id"), col("doc_id"), lit(1).as("hit")),
      Seq("query_id", "doc_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))

  private def nRanked(ranking: DataFrame): Long =
    ranking.select(col("query_id")).distinct().count()

  private def nQrels(qrels: DataFrame): Long =
    qrels.select(col("query_id")).distinct().count()

  /** Per-query positive counts. */
  private def posCounts(qrels: DataFrame): DataFrame =
    qrels.groupBy(col("query_id")).agg(count(lit(1)).as("n_pos"))

  /** recall@k per query: hits@k / |positives|. */
  def recallPerQuery(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame =
    labeled(ranking, qrels)
      .filter(col("rank") <= k)
      .groupBy(col("query_id")).agg(sum(col("hit")).as("hits"))
      .join(posCounts(qrels), Seq("query_id"), "inner")
      .select(col("query_id"),
        (col("hits").cast("double") / col("n_pos")).as("recall"))

  def recallAt(ranking: DataFrame, qrels: DataFrame, k: Int): Double =
    recallPerQuery(ranking, qrels, k)
      .agg(sum(col("recall"))).first().getDouble(0) / nRanked(ranking)

  /** hit_rate@k per query: hits@k / k. */
  def hitRatePerQuery(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame =
    labeled(ranking, qrels)
      .filter(col("rank") <= k)
      .groupBy(col("query_id"))
      .agg((sum(col("hit")).cast("double") / lit(k)).as("hit_rate"))

  def hitRateAt(ranking: DataFrame, qrels: DataFrame, k: Int): Double =
    hitRatePerQuery(ranking, qrels, k)
      .agg(sum(col("hit_rate"))).first().getDouble(0) / nQrels(qrels)

  /** mrr@k per query: 1/r where r = rank of FIRST positive, if r <= k. */
  def mrrPerQuery(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame =
    labeled(ranking, qrels)
      .filter(col("hit") === 1)
      .groupBy(col("query_id")).agg(min(col("rank")).as("first_hit"))
      .filter(col("first_hit") <= k)
      .select(col("query_id"), (lit(1.0) / col("first_hit")).as("rr"))

  def mrrAt(ranking: DataFrame, qrels: DataFrame, k: Int): Double =
    mrrPerQuery(ranking, qrels, k)
      .agg(coalesce(sum(col("rr")), lit(0.0))).first().getDouble(0) / nRanked(ranking)

  /** map@k per query: sum over hits at rank<=k of (cumHits/rank), divided by
    * min(|positives|, k).
    */
  def mapPerQuery(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    labeled(ranking, qrels)
      .filter(col("rank") <= k)
      .withColumn("cum_hits", sum(col("hit")).over(w))
      .filter(col("hit") === 1)
      .groupBy(col("query_id"))
      .agg(sum(col("cum_hits").cast("double") / col("rank")).as("sum_prec"))
      .join(posCounts(qrels), Seq("query_id"), "inner")
      .select(col("query_id"),
        (col("sum_prec") / least(col("n_pos"), lit(k))).as("ap"))
  }

  def mapAt(ranking: DataFrame, qrels: DataFrame, k: Int): Double =
    mapPerQuery(ranking, qrels, k)
      .agg(coalesce(sum(col("ap")), lit(0.0))).first().getDouble(0) / nRanked(ranking)

  /** ndcg@k per query with binary gains. DCG over ranks <= k; IDCG from the
    * TOTAL number of hits in the full ranking list (reference sorts the full
    * relevance vector before cutting off).
    */
  def ndcgPerQuery(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    val perQ = labeled(ranking, qrels)
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("rank") <= k,
          col("hit") / log2(col("rank") + 1)).otherwise(0.0)).as("dcg"),
        sum(col("hit")).as("total_hits"))
    // idcg = sum_{i=1..min(total_hits,k)} 1/log2(i+1)
    perQ.withColumn("idcg",
        when(col("total_hits") > 0,
          aggregate(
            sequence(lit(1), least(col("total_hits"), lit(k))),
            lit(0.0), (acc, i) => acc + lit(1.0) / log2(i + 1)))
          .otherwise(0.0))
      .select(col("query_id"),
        when(col("idcg") > 0, col("dcg") / col("idcg")).otherwise(0.0).as("ndcg"))
  }

  def ndcgAt(ranking: DataFrame, qrels: DataFrame, k: Int): Double =
    ndcgPerQuery(ranking, qrels, k)
      .agg(coalesce(sum(col("ndcg")), lit(0.0))).first().getDouble(0) / nRanked(ranking)

  /** All five metrics in ONE pass: one labeled join, one running-hits
    * window, one per-query aggregation, one final mean row — versus five
    * `*At` jobs that each re-scan and re-join the ranking. At 100 TB the ranking is read once and shuffled once (on
    * query_id); the per-metric reference semantics (including the
    * hit_rate-over-qrels denominator asymmetry and inner-join drops that
    * contribute 0) are reproduced exactly. Agreement with the five-pass
    * path is bit-exact on the golden fixture and within the final ulp in
    * general (the cross-query summation ORDER differs between plans) —
    * MetricsSpec pins both. The contract queries q_metrics and
    * q_metrics_fused are both served by this plan (their 6-decimal rounding
    * absorbs the last-ulp order difference); the five-pass path
    * (`recallAt` … `ndcgAt`) is MetricsSpec's reference-shaped oracle.
    */
  def summaryFused(ranking: DataFrame, qrels: DataFrame, k: Int): DataFrame = {
    // nq must count EVERY qrels query (including ones absent from the
    // ranking, which the join below drops) — a count on the SMALL side
    // only; the big ranking table is scanned exactly once, below. nr (the
    // distinct ranked queries) falls out of the fused aggregation for free.
    val nq = nQrels(qrels).toDouble
    val w = Window.partitionBy(col("query_id")).orderBy(col("rank"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perQ = labeled(ranking, qrels)
      .withColumn("cum_hits", sum(col("hit")).over(w))
      .groupBy(col("query_id"))
      .agg(
        sum(when(col("rank") <= k, col("hit")).otherwise(0)).as("hits_k"),
        min(when(col("hit") === 1, col("rank"))).as("first_hit"),
        sum(when(col("hit") === 1 && col("rank") <= k,
          col("cum_hits").cast("double") / col("rank")).otherwise(0.0)).as("sum_prec"),
        sum(when(col("rank") <= k,
          col("hit") / log2(col("rank") + 1)).otherwise(0.0)).as("dcg"),
        sum(col("hit")).as("total_hits"))
      .join(posCounts(qrels), Seq("query_id"), "left")
      .withColumn("idcg",
        when(col("total_hits") > 0,
          aggregate(
            sequence(lit(1), least(col("total_hits"), lit(k))),
            lit(0.0), (acc, i) => acc + lit(1.0) / log2(i + 1)))
          .otherwise(0.0))
    perQ.agg(
        coalesce(sum(when(col("n_pos").isNotNull,
          col("hits_k").cast("double") / col("n_pos"))), lit(0.0)).as("recall_sum"),
        coalesce(sum(col("hits_k").cast("double") / lit(k)), lit(0.0)).as("hr_sum"),
        coalesce(sum(when(col("first_hit") <= k,
          lit(1.0) / col("first_hit"))), lit(0.0)).as("mrr_sum"),
        coalesce(sum(when(col("n_pos").isNotNull,
          col("sum_prec") / least(col("n_pos"), lit(k)))), lit(0.0)).as("map_sum"),
        coalesce(sum(when(col("idcg") > 0,
          col("dcg") / col("idcg")).otherwise(0.0)), lit(0.0)).as("ndcg_sum"),
        count(lit(1)).cast("double").as("nr")) // one row per ranked query
      .select(
        (col("recall_sum") / col("nr")).as("recall"),
        (col("hr_sum") / nq).as("hit_rate"),
        (col("mrr_sum") / col("nr")).as("mrr"),
        (col("map_sum") / col("nr")).as("map"),
        (col("ndcg_sum") / col("nr")).as("ndcg"))
  }

}
