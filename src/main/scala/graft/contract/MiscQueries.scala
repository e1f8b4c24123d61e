package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.DocsCorpus
import graft.functions.TextFunctions

/** Driver-contract queries for projections, scalar functions, chunking,
  * pooling, streaming-shaped window aggs, and multimodal plumbing
  * (SURVEY §2.2 P2/P3/P7, §2.8 F5/F7/F8, A10, J5-chunking, §2.10).
  */
object MiscQueries {

  /** Deterministic retriever over the sf-dir documents (query q <-> docs
    * with doc_id%5==q, ranked by `order`): exercises the Retriever API with
    * DuckDB-oracle-exact rankings. The WAND-backed retrievers are covered by
    * q_bm25_wand_topk/q_pages_wand and RetrieverSpec.
    */
  private def fixtureRetriever(dir: String,
                               order: Seq[org.apache.spark.sql.Column],
                               score: org.apache.spark.sql.Column): graft.query.Retriever =
    new graft.query.Retriever {
      override def search(sp: SparkSession, queries: Seq[(Long, String)],
                          k: Int): DataFrame = {
        import org.apache.spark.sql.expressions.Window
        val qIds = queries.map(_._1)
        val base = DocsCorpus.documents(sp, dir)
          .withColumn("query_id", pmod(col("doc_id"), lit(5)).cast("long"))
          .filter(col("query_id").isin(qIds: _*))
        val w = Window.partitionBy(col("query_id")).orderBy(order: _*)
        base.withColumn("rank", row_number().over(w))
          .filter(col("rank") <= k)
          .select(col("query_id"), col("doc_id"),
            score.cast("double").as("score"), col("rank"))
      }
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // P2/P3/F5: instruction prefix + title/text concat projections
    "q_projections" -> ((s, dir) =>
      DocsCorpus.documents(s, dir).select(
        col("doc_id"),
        TextFunctions.withInstruction(col("text"), "query: ").as("instructed"),
        TextFunctions.titleText(col("source"), col("text")).as("titled"))),

    // P7: citation extraction from synthesized bracket citations
    "q_citations" -> ((s, dir) =>
      DocsCorpus.documents(s, dir)
        .withColumn("cited",
          concat(lit("see ["), pmod(col("doc_id"), lit(5)), lit(", "),
            pmod(col("doc_id"), lit(7)), lit("] and [" ), pmod(col("doc_id"), lit(3)),
            lit("] end")))
        .select(col("doc_id"),
          explode(TextFunctions.citations(col("cited"))).as("cite"))),

    // F7/F8: dot-with-temperature + sigmoid over embedding pairs
    "q_dot_sigmoid" -> ((s, dir) => {
      val emb = DocsCorpus.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val a = emb.filter(col("vec_id") < 3)
        .select(col("vec_id").as("a_id"), col("v").as("va"))
      val b = emb.filter(col("vec_id") >= 3 && col("vec_id") < 8)
        .select(col("vec_id").as("b_id"), col("v").as("vb"))
      a.crossJoin(b).select(col("a_id"), col("b_id"),
        round(TextFunctions.dotWithTemperature(col("va"), col("vb"), 0.05), 4)
          .as("dot_t_r"),
        round(TextFunctions.sigmoid(
          TextFunctions.dotWithTemperature(col("va"), col("vb"), 0.05)), 4)
          .as("sig_r"))
    }),

    // A10: segment mean pooling over embeddings (exploded for compare)
    "q_segment_mean" -> ((s, dir) => {
      val emb = DocsCorpus.table(s, dir, "embeddings")
        .select(pmod(col("vec_id"), lit(10)).cast("long").as("segment_id"),
          col("embedding").cast("array<double>").as("vec"))
      TextFunctions.segmentMean(emb)
        .select(col("segment_id"), posexplode(col("mean_vec")))
        .select(col("segment_id"), col("pos"), round(col("col"), 4).as("m_r"))
    }),

    // J5-chunking: token windows with overlap + parent map
    "q_chunk_docs" -> ((s, dir) =>
      TextFunctions.chunkDocs(DocsCorpus.documents(s, dir), "doc_id", "text",
        chunkTokens = 20, overlap = 5)
        .select(col("doc_id"), col("chunk_pos"), col("chunk_text"))),

    // §2.10: tumbling-window event aggregation (batch plan == streaming plan;
    // the stream run is exercised in ScalaTest)
    "q_events_window" -> ((s, dir) =>
      graft.streaming.EventStream.windowedAgg(
        DocsCorpus.table(s, dir, "events"), "1 hour")),

    // general relational coverage: canonical agg + broadcast join shapes
    // over the TPC-H-ish tables (Catalyst handles these; included so the
    // engine's generic SQL surface is oracle-checked too)
    "q_rel_agg" -> ((s, dir) =>
      DocsCorpus.table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 4).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("revenue_r"),
          count(lit(1)).as("n"))),

    "q_rel_join" -> ((s, dir) => {
      val li = DocsCorpus.table(s, dir, "lineitem")
      val o = DocsCorpus.table(s, dir, "orders")
      li.join(broadcast(o), li("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("l_extendedprice")), 2).as("sum_price_r"),
          count(lit(1)).as("n"))
    }),

    // multimodal decode over binary assets (rows-only: payloads are
    // engine-side binaries DuckDB never sees). REAL pure-JVM decode for
    // wav/ppm/y4m (rms/zcr, channel means, frame counts from the actual
    // bytes — golden-tested in MiscSpec); mp4 exercises the documented stub
    // fallback (no codec libs in the container).
    "q_multimodal_features" -> ((s, _) => {
      import s.implicits._
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.genAssets(s, 200, 4)).toDF()
        .select(col("asset_id"), col("kind"), col("width"), col("height"),
          col("n_frames"), round(element_at(col("features"), 1), 4).as("f0_r"))
    }),

    // F10 MaxSim late interaction: token-vectors derived by slicing each
    // 64-dim embedding into 8 tokens x 8 dims (model-free, SQL-matchable)
    "q_maxsim" -> ((s, dir) => {
      val emb = DocsCorpus.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val toks = transform(sequence(lit(0), lit(7)),
        i => slice(col("v"), i * 8 + lit(1), lit(8)))
      val withT = emb.withColumn("toks", toks)
      val q = withT.filter(col("vec_id") < 3)
        .select(col("vec_id").as("a_id"), col("toks").as("qt"))
      val d = withT.filter(col("vec_id") >= 3 && col("vec_id") < 10)
        .select(col("vec_id").as("b_id"), col("toks").as("dt"))
      q.crossJoin(d).select(col("a_id"), col("b_id"),
        round(TextFunctions.maxSim(col("qt"), col("dt")), 4).as("maxsim_r"))
    }),

    // F13 pooling family over the same token-vector arrays
    "q_pooling" -> ((s, dir) => {
      val emb = DocsCorpus.table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val toks = transform(sequence(lit(0), lit(7)),
        i => slice(col("v"), i * 8 + lit(1), lit(8)))
      val withT = emb.withColumn("toks", toks)
      withT.select(col("vec_id"),
        round(element_at(TextFunctions.poolMean(col("toks")), 1), 4).as("mean0_r"),
        round(element_at(TextFunctions.poolCls(col("toks")), 1), 4).as("cls0_r"),
        round(element_at(TextFunctions.poolLast(col("toks")), 1), 4).as("last0_r"),
        round(element_at(TextFunctions.poolSum(col("toks")), 1), 4).as("sum0_r"),
        round(element_at(TextFunctions.poolGem(col("toks")), 1), 4).as("gem0_r"),
        round(element_at(TextFunctions.poolWeightedLayer(col("toks"),
          (1 to 8).map(_.toDouble)), 1), 4).as("wl0_r"),
        round(element_at(TextFunctions.poolFm(col("toks")), 1), 4).as("fm0_r"))
    }),

    // S1: JSON corpus source round-trip (write jsonl, schema read back)
    "q_json_source" -> ((s, dir) => {
      val out = graft.SparkEntry.scratchDir("graft-json") + "/docs"
      DocsCorpus.documents(s, dir).write.mode("overwrite").json(out)
      s.read.schema("doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG")
        .json(out).select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    // Retriever surface: weighted RRF ensemble through the
    // BaseRetriever-equivalent API (EnsembleRetriever + Fusion.rrf). The two
    // member retrievers rank deterministically (n_chars desc / doc_id asc)
    // so the whole ensemble is DuckDB-oracle-exact; the WAND-backed ensemble
    // is exercised in RetrieverSpec (its raw-double rank order is not
    // SQL-replicable at full precision).
    "q_ensemble_retriever" -> ((s, dir) => {
      val byChars = fixtureRetriever(dir,
        Seq(col("n_chars").desc, col("doc_id").asc), col("n_chars"))
      val byId = fixtureRetriever(dir, Seq(col("doc_id").asc), -col("doc_id"))
      val ens = new graft.query.EnsembleRetriever(Seq(byChars -> 1.0, byId -> 0.5))
      ens.search(s, (0L until 5L).map(q => q -> s"q$q"), 10)
        .select(col("query_id"), col("doc_id"),
          round(col("rrf_score"), 6).as("rrf_r"), col("rank"))
    }),

    // Composed RAG pipeline (SimpleRAG.process_query shape): retrieve top-3
    // -> rank-ordered context assembly -> citation extraction. Texts carry a
    // synthetic citation marker so the extraction stage has real work; the
    // context itself is verified via md5.
    "q_rag_pipeline" -> ((s, dir) => {
      val docsCited = DocsCorpus.documents(s, dir)
        .select(col("doc_id"),
          concat(col("text"), lit(" ["), pmod(col("doc_id"), lit(7)), lit("]"))
            .as("text"))
      val retriever = fixtureRetriever(dir,
        Seq(col("n_chars").desc, col("doc_id").asc), col("n_chars"))
      graft.pipelines.Rag.processQueries(s, retriever,
        (0L until 5L).map(q => q -> s"q$q"), docsCited, topK = 3)
        .select(col("query_id"), md5(col("context")).as("ctx_md5"),
          explode(col("cites")).as("cite"))
    }),

    // S4: ranking TSV sink round-trip (write then read back; the fixture
    // ranking is deterministic so the read-back is DuckDB-oracle-exact)
    "q_ranking_tsv" -> ((s, dir) => {
      val out = graft.SparkEntry.scratchDir("graft-tsv") + "/r"
      val ranked = graft.query.ShardServe.globalRank(
        PipelineQueriesAccess.ranking(s, dir)
          .withColumn("score", col("rank").cast("double") * -1), 10)
        .select(col("query_id"), col("doc_id"), col("score"), col("rank"))
      graft.query.Bm25Query.writeRankingTsv(ranked, out)
      s.read.option("sep", "\t")
        .schema("query_id LONG, doc_id LONG, score DOUBLE, rank INT").csv(out)
    })
  )

  def oracleSql: Map[String, String] = Map(
    "q_projections" ->
      """SELECT doc_id, 'query: ' || text AS instructed,
        |       source || ' ' || text AS titled
        |FROM documents""".stripMargin,

    "q_citations" ->
      """WITH c AS (
        |  SELECT doc_id,
        |         'see [' || (doc_id % 5) || ', ' || (doc_id % 7) || '] and [' || (doc_id % 3) || '] end' AS cited
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, unnest(regexp_extract_all(cited, '\[([\d, ]+)\]', 1)) AS grp FROM c),
        |e AS (
        |  SELECT doc_id, TRY_CAST(trim(unnest(string_split(grp, ','))) AS INT) AS cite FROM m)
        |SELECT DISTINCT doc_id, cite FROM e WHERE cite IS NOT NULL""".stripMargin,

    "q_dot_sigmoid" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))) / 0.05 AS d
        |  FROM v a, v b WHERE a.vec_id < 3 AND b.vec_id >= 3 AND b.vec_id < 8)
        |SELECT a_id, b_id, round(d, 4) + 0.0 AS dot_t_r,
        |       round(1.0 / (1.0 + exp(-d)), 4) + 0.0 AS sig_r
        |FROM pairs""".stripMargin,

    // summation order pinned on both sides: sort values ascending, left-fold
    // (Spark: aggregate(array_sort(collect_list(x)), 0.0, +); here:
    // list_reduce over list_sort) so the mean is partitioning-independent.
    // `+ 0.0` after round(): DuckDB round() preserves -0.0 while Spark's
    // BigDecimal round normalizes it to +0.0, and the driver hashes the
    // representation — adding +0.0 maps -0.0 to +0.0 (IEEE RN) on the oracle
    // side without changing any other value (`* 1.0` would NOT work).
    "q_segment_mean" ->
      """SELECT CAST(vec_id % 10 AS BIGINT) AS segment_id,
        |       CAST(i - 1 AS INT) AS pos,
        |       round(list_reduce(list_sort(list(CAST(embedding[i] AS DOUBLE))),
        |                         (a, b) -> a + b) / count(*), 4) + 0.0 AS m_r
        |FROM embeddings, LATERAL (SELECT unnest(range(1, 65)) AS i)
        |GROUP BY 1, 2""".stripMargin,

    "q_chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS toks
        |  FROM documents),
        |nch AS (
        |  SELECT doc_id, toks,
        |         CASE WHEN len(toks) <= 20 THEN 1
        |              ELSE CAST(ceil((len(toks) - 20) / 15.0) AS INT) + 1 END AS n
        |  FROM t)
        |SELECT doc_id, CAST(i AS INT) AS chunk_pos,
        |       array_to_string(toks[i * 15 + 1 : i * 15 + 20], ' ') AS chunk_text
        |FROM nch, LATERAL (SELECT unnest(range(0, n)) AS i)""".stripMargin,

    "q_events_window" ->
      """SELECT CAST(floor(epoch(ts) / 3600) * 3600 AS BIGINT) AS window_start,
        |       event_type, CAST(count(*) AS BIGINT) AS n,
        |       round(sum(value), 4) + 0.0 AS sum_value_r
        |FROM events GROUP BY 1, 2""".stripMargin,

    "q_maxsim" ->
      """WITH t AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 8),
        |      i -> list_transform(range(1, 9), j -> CAST(embedding[i * 8 + j] AS DOUBLE))) AS toks
        |  FROM embeddings),
        |q AS (SELECT vec_id AS a_id, toks AS qt FROM t WHERE vec_id < 3),
        |d AS (SELECT vec_id AS b_id, toks AS dt FROM t WHERE vec_id >= 3 AND vec_id < 10)
        |SELECT a_id, b_id,
        |  round(list_sum(list_transform(qt,
        |          x -> list_max(list_transform(dt,
        |                 y -> list_sum(list_transform(range(1, 9), k -> x[k] * y[k]))))))
        |        / 8.0, 4) + 0.0 AS maxsim_r
        |FROM q, d""".stripMargin,

    "q_pooling" ->
      """WITH t AS (
        |  SELECT vec_id,
        |    list_transform(range(0, 8),
        |      i -> list_transform(range(1, 9), j -> CAST(embedding[i * 8 + j] AS DOUBLE))) AS toks
        |  FROM embeddings)
        |SELECT vec_id,
        |  round(list_sum(list_transform(toks, x -> x[1])) / 8.0, 4) + 0.0 AS mean0_r,
        |  round(toks[1][1], 4) + 0.0 AS cls0_r,
        |  round(toks[8][1], 4) + 0.0 AS last0_r,
        |  round(list_sum(list_transform(toks, x -> x[1])), 4) + 0.0 AS sum0_r,
        |  round(pow(list_sum(list_transform(toks,
        |          x -> pow(greatest(x[1], 1e-6), 3.0))) / 8.0, 1.0/3.0), 4) + 0.0 AS gem0_r,
        |  round(list_sum(list_transform(range(1, 9),
        |          i -> toks[i][1] * i)) / 36.0, 4) + 0.0 AS wl0_r,
        |  round(0.5 * (list_sum(list_transform(toks, x -> x[1]))
        |               * list_sum(list_transform(toks, x -> x[1]))
        |        - list_sum(list_transform(toks, x -> x[1] * x[1]))), 4) + 0.0 AS fm0_r
        |FROM t""".stripMargin,

    "q_json_source" ->
      "SELECT doc_id, lang, n_chars FROM documents",

    "q_rel_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 4) + 0.0 AS sum_qty,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) + 0.0 AS revenue_r,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY 1, 2""".stripMargin,

    "q_rel_join" ->
      """SELECT o_orderpriority,
        |       round(sum(l_extendedprice), 2) + 0.0 AS sum_price_r,
        |       CAST(count(*) AS BIGINT) AS n
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY 1""".stripMargin,

    "q_ensemble_retriever" ->
      """WITH base AS (SELECT doc_id, n_chars, CAST(doc_id % 5 AS BIGINT) AS query_id FROM documents),
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
        |SELECT query_id, doc_id, rrf_r, rank FROM ranked WHERE rank <= 10""".stripMargin,

    "q_rag_pipeline" ->
      """WITH base AS (SELECT doc_id, n_chars, CAST(doc_id % 5 AS BIGINT) AS query_id FROM documents),
        |ranking AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |           row_number() OVER (PARTITION BY query_id ORDER BY n_chars DESC, doc_id ASC) AS rank
        |    FROM base) t WHERE rank <= 3),
        |ctx AS (
        |  SELECT r.query_id,
        |         string_agg(d.text || ' [' || (d.doc_id % 7) || ']', chr(10) ORDER BY r.rank) AS context
        |  FROM ranking r JOIN documents d USING (doc_id) GROUP BY 1),
        |m AS (
        |  SELECT query_id, md5(context) AS ctx_md5,
        |         unnest(regexp_extract_all(context, '\[([\d, ]+)\]', 1)) AS grp
        |  FROM ctx),
        |e AS (
        |  SELECT query_id, ctx_md5, TRY_CAST(trim(unnest(string_split(grp, ','))) AS INT) AS cite
        |  FROM m)
        |SELECT DISTINCT query_id, ctx_md5, cite FROM e WHERE cite IS NOT NULL""".stripMargin,

    "q_ranking_tsv" ->
      """WITH base AS (SELECT doc_id, n_chars, CAST(doc_id % 5 AS BIGINT) AS query_id FROM documents),
        |ranking AS (
        |  SELECT query_id, doc_id, rank FROM (
        |    SELECT query_id, doc_id,
        |           CAST(row_number() OVER (PARTITION BY query_id ORDER BY n_chars DESC, doc_id ASC) AS INT) AS rank
        |    FROM base) t WHERE rank <= 10)
        |SELECT query_id, doc_id, CAST(-rank AS DOUBLE) AS score, rank FROM ranking""".stripMargin
  )
}

/** Exposes PipelineQueries' deterministic ranking fixture to siblings
  * (one definition — the q_ranking_tsv/q_rag_pipeline oracles must stay in
  * lockstep with q_ranking's).
  */
object PipelineQueriesAccess {
  def ranking(s: SparkSession, dir: String): DataFrame =
    PipelineQueries.rankingFixture(s, dir)
}
