package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.DocsCorpus
import graft.metrics.RankMetrics
import graft.fuse.Fusion

/** Driver-contract queries for ranking metrics + fusion + candidate ops
  * (SURVEY §2.3 J2/J4, §2.4 A3-A9, §2.5, §2.6 T8, §2.7).
  *
  * All inputs are derived deterministically from the sf-dir `documents`
  * table so each query has an exact DuckDB oracle:
  *   ranking:  query q in 0..4 ranks docs with doc_id%5==q by
  *             (n_chars desc, doc_id asc), top 10
  *   qrels:    (doc_id%7, doc_id) for doc_id%7 in 0..4
  */
object PipelineQueries {

  private val K = 5

  /** The shared deterministic ranking fixture (also the q_ranking_tsv /
    * q_rag_pipeline input via PipelineQueriesAccess).
    */
  private[contract] def rankingFixture(s: SparkSession, dir: String): DataFrame = {
    val docs = DocsCorpus.documents(s, dir)
    val base = docs.select(col("doc_id"), col("n_chars"))
      .withColumn("query_id", pmod(col("doc_id"), lit(5)).cast("long"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    base.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("doc_id"), col("rank"))
  }

  private def qrels(s: SparkSession, dir: String): DataFrame =
    DocsCorpus.documents(s, dir)
      .filter(pmod(col("doc_id"), lit(7)) < 5)
      .select(pmod(col("doc_id"), lit(7)).cast("long").as("query_id"), col("doc_id"))

  private val rankingCtes =
    """WITH base AS (SELECT doc_id, n_chars, CAST(doc_id % 5 AS BIGINT) AS query_id FROM documents),
      |ranking AS (
      |  SELECT query_id, doc_id, rank FROM (
      |    SELECT query_id, doc_id,
      |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rank
      |    FROM base) t WHERE rank <= 10),
      |qrels AS (SELECT CAST(doc_id % 7 AS BIGINT) AS query_id, doc_id FROM documents WHERE doc_id % 7 < 5),
      |lab AS (
      |  SELECT r.query_id, r.doc_id, r.rank,
      |         CASE WHEN q.doc_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      |  FROM ranking r LEFT JOIN qrels q ON r.query_id = q.query_id AND r.doc_id = q.doc_id),
      |pos AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_pos FROM qrels GROUP BY 1)
      |""".stripMargin

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // W1 ranking materialization itself (windowed rank assignment)
    "q_ranking" -> ((s, dir) => rankingFixture(s, dir)),

    // J2 ground-truth label join
    "q_label_join" -> ((s, dir) =>
      Fusion.label(rankingFixture(s, dir), qrels(s, dir))
        .select(col("query_id"), col("doc_id"), col("rank"), col("label"))),

    // A5-A9 metric battery in one row. r7: served by the single-pass fused
    // plan (summaryFused) — the five-pass summary() ran ~10 driver-blocking
    // jobs for the same five values; both plans round identically at the
    // oracle's 6 decimals on every contract SF (verified bitwise vs DuckDB),
    // and the five-pass reference-shaped path stays covered as MetricsSpec's
    // oracle.
    "q_metrics" -> ((s, dir) => {
      val r = rankingFixture(s, dir)
      val q = qrels(s, dir)
      RankMetrics.summaryFused(r, q, K)
        .select(round(col("recall"), 6).as("recall_r"),
          round(col("hit_rate"), 6).as("hit_rate_r"),
          round(col("mrr"), 6).as("mrr_r"),
          round(col("map"), 6).as("map_r"),
          round(col("ndcg"), 6).as("ndcg_r"))
    }),

    // A5-A9 again through the SINGLE-PASS fused path (one join + one
    // shuffle for all five metrics — the bulk-evaluation plan). Shares
    // q_metrics' oracle: the 6-decimal rounding absorbs the last-ulp
    // cross-query summation-order difference between the two plans.
    "q_metrics_fused" -> ((s, dir) => {
      val r = rankingFixture(s, dir)
      val q = qrels(s, dir)
      RankMetrics.summaryFused(r, q, K)
        .select(round(col("recall"), 6).as("recall_r"),
          round(col("hit_rate"), 6).as("hit_rate_r"),
          round(col("mrr"), 6).as("mrr_r"),
          round(col("map"), 6).as("map_r"),
          round(col("ndcg"), 6).as("ndcg_r"))
    }),

    // J4/A4 RRF fusion of two deterministic retrievers
    "q_rrf" -> ((s, dir) => {
      val docs = DocsCorpus.documents(s, dir)
      val base = docs.select(col("doc_id"), col("n_chars"))
        .withColumn("query_id", pmod(col("doc_id"), lit(3)).cast("long"))
      val w1 = Window.partitionBy(col("query_id"))
        .orderBy(col("n_chars").desc, col("doc_id").asc)
      val r1 = base.withColumn("rank", row_number().over(w1))
        .filter(col("rank") <= 10)
        .select(lit("by_chars").as("retriever"), col("query_id"), col("doc_id"),
          col("rank"), lit(1.0).as("weight"))
      val w2 = Window.partitionBy(col("query_id")).orderBy(col("doc_id").asc)
      val r2 = base.withColumn("rank", row_number().over(w2))
        .filter(col("rank") <= 10)
        .select(lit("by_id").as("retriever"), col("query_id"), col("doc_id"),
          col("rank"), lit(0.5).as("weight"))
      Fusion.rrf(r1.unionByName(r2), kRrf = 60, topK = 5)
        .select(col("query_id"), col("doc_id"),
          round(col("rrf_score"), 6).as("rrf_r"), col("rank"))
    }),

    // A3/J5 chunk->parent max-merge
    "q_chunk_maxmerge" -> ((s, dir) => {
      val chunks = DocsCorpus.documents(s, dir)
        .select((col("doc_id") / 10).cast("long").as("parent_id"),
          col("n_chars").cast("double").as("score"))
      Fusion.maxMerge(chunks)
        .select(col("parent_id"), col("score"))
    }),

    // T8/J3/P6 hard negatives (md5-keyed deterministic pick — the DuckDB
    // oracle reproduces the identical sample)
    "q_hard_negatives" -> ((s, dir) =>
      Fusion.hardNegatives(rankingFixture(s, dir), qrels(s, dir), lo = 2, hi = 10, n = 3)
        .select(col("query_id"), col("doc_id"), col("rank")))
  )

  /** The A5-A9 metric battery in SQL — shared verbatim by q_metrics and
    * q_metrics_fused (same semantics, two engine plans).
    */
  private def metricsOracleSql: String =
    rankingCtes +
      s""", nr AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM ranking),
         |nq AS (SELECT CAST(count(DISTINCT query_id) AS BIGINT) AS n FROM qrels),
         |rec AS (SELECT l.query_id, CAST(sum(hit) AS DOUBLE) / max(p.n_pos) AS r
         |        FROM lab l JOIN pos p USING (query_id) WHERE rank <= $K GROUP BY 1),
         |hr AS (SELECT query_id, CAST(sum(hit) AS DOUBLE) / $K AS h FROM lab WHERE rank <= $K GROUP BY 1),
         |mrrq AS (SELECT query_id, 1.0 / min(rank) AS rr FROM lab WHERE hit = 1 GROUP BY 1 HAVING min(rank) <= $K),
         |prec AS (SELECT query_id, rank, hit,
         |           CAST(sum(hit) OVER (PARTITION BY query_id ORDER BY rank) AS DOUBLE) / rank AS p
         |         FROM lab WHERE rank <= $K),
         |mapq AS (SELECT prec.query_id, sum(p) / min(least(n_pos, $K)) AS ap
         |         FROM prec JOIN pos ON prec.query_id = pos.query_id WHERE hit = 1 GROUP BY 1),
         |dcgs AS (SELECT query_id,
         |           sum(CASE WHEN rank <= $K THEN CAST(hit AS DOUBLE) / log2(rank + 1) ELSE 0 END) AS dcg,
         |           CAST(sum(hit) AS BIGINT) AS th
         |         FROM lab GROUP BY 1),
         |ndcgq AS (SELECT query_id,
         |            CASE WHEN th > 0
         |                 THEN dcg / list_sum(list_transform(range(1, least(th, $K) + 1), i -> 1.0 / log2(i + 1)))
         |                 ELSE 0.0 END AS nd
         |          FROM dcgs)
         |SELECT
         |  round((SELECT coalesce(sum(r), 0) FROM rec) / (SELECT n FROM nr), 6) + 0.0 AS recall_r,
         |  round((SELECT coalesce(sum(h), 0) FROM hr) / (SELECT n FROM nq), 6) + 0.0 AS hit_rate_r,
         |  round((SELECT coalesce(sum(rr), 0) FROM mrrq) / (SELECT n FROM nr), 6) + 0.0 AS mrr_r,
         |  round((SELECT coalesce(sum(ap), 0) FROM mapq) / (SELECT n FROM nr), 6) + 0.0 AS map_r,
         |  round((SELECT coalesce(sum(nd), 0) FROM ndcgq) / (SELECT n FROM nr), 6) + 0.0 AS ndcg_r""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_ranking" ->
      (rankingCtes + "SELECT query_id, doc_id, rank FROM ranking"),

    "q_label_join" ->
      (rankingCtes + "SELECT query_id, doc_id, rank, hit AS label FROM lab"),

    // one oracle, two engine plans: q_metrics (five-pass reference shape)
    // and q_metrics_fused (single-pass) must both round to these values
    "q_metrics" -> metricsOracleSql,
    "q_metrics_fused" -> metricsOracleSql,

    "q_rrf" ->
      """WITH base AS (SELECT doc_id, n_chars, CAST(doc_id % 3 AS BIGINT) AS query_id FROM documents),
        |r1 AS (SELECT query_id, doc_id, rank, 1.0 AS weight FROM (
        |         SELECT query_id, doc_id,
        |                row_number() OVER (PARTITION BY query_id ORDER BY n_chars DESC, doc_id ASC) AS rank
        |         FROM base) t WHERE rank <= 10),
        |r2 AS (SELECT query_id, doc_id, rank, 0.5 AS weight FROM (
        |         SELECT query_id, doc_id,
        |                row_number() OVER (PARTITION BY query_id ORDER BY doc_id ASC) AS rank
        |         FROM base) t WHERE rank <= 10),
        |fused AS (SELECT query_id, doc_id, sum(weight / (60 + rank)) AS rrf_score
        |          FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2) u GROUP BY 1, 2),
        |ranked AS (SELECT query_id, doc_id, round(rrf_score, 6) + 0.0 AS rrf_r,
        |                  CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_score DESC, doc_id ASC) AS INT) AS rank
        |           FROM fused)
        |SELECT query_id, doc_id, rrf_r, rank FROM ranked WHERE rank <= 5""".stripMargin,

    "q_chunk_maxmerge" ->
      """SELECT CAST(doc_id // 10 AS BIGINT) AS parent_id,
        |       CAST(max(n_chars) AS DOUBLE) AS score
        |FROM documents GROUP BY 1""".stripMargin,

    "q_hard_negatives" ->
      (rankingCtes +
        """, neg AS (
          |  SELECT r.query_id, r.doc_id, r.rank
          |  FROM ranking r LEFT JOIN qrels q
          |    ON r.query_id = q.query_id AND r.doc_id = q.doc_id
          |  WHERE q.doc_id IS NULL AND r.rank >= 2 AND r.rank < 10),
          |picked AS (
          |  SELECT query_id, doc_id, rank,
          |         row_number() OVER (PARTITION BY query_id
          |           ORDER BY md5(query_id || ':' || doc_id || ':42'), doc_id) AS pick
          |  FROM neg)
          |SELECT query_id, doc_id, rank FROM picked WHERE pick <= 3""".stripMargin)
  )
}
