package graft.contract

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.DocsCorpus
import graft.dedup.Dedup
import graft.ann.Ann
import graft.text.TextAnalysis

/** Driver-contract queries for the training-data pipeline operators:
  * deduplication, similarity search, text analysis (prompt-mandated
  * first-class components beyond the reference inventory).
  */
object DataOpsQueries {

  /** Shared contract shape for the dense top-10 queries: query vecs are
    * vec_id < 5, the corpus is the (optionally pre-filtered) embeddings
    * table, candidates come from the heap kernel with a k=30 buffer, and
    * the final rank re-sorts on the ROUNDED cosine so tie order matches
    * the SQL oracle. One implementation pins both queries to one contract.
    */
  private def annContractTopK(s: SparkSession, dir: String,
                              corpusFilter: DataFrame => DataFrame): DataFrame = {
    val emb = DocsCorpus.table(s, dir, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val corpus = corpusFilter(emb)
      .select(col("vec_id"), col("embedding").as("vec"))
    val hits = Ann.bruteForceTopK(queries, corpus, k = 30)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_r").desc, col("vec_id").asc)
    hits.withColumn("cos_r", round(col("cos"), 4))
      .select(col("query_id"), col("vec_id"), col("cos_r"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // exact dedup on normalized-content fingerprint
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exact(DocsCorpus.documents(s, dir))
        .select(col("doc_id"), col("canonical_id"))),

    // n-gram Jaccard near-dup pairs (exact set arithmetic)
    "q_jaccard_pairs" -> ((s, dir) =>
      Dedup.jaccardPairs(DocsCorpus.documents(s, dir), n = 3, threshold = 0.05)
        .select(col("doc_a"), col("doc_b"), col("jaccard"))),

    // MinHash-LSH near-dup candidates (EXPLICIT Md5Family = oracle mode —
    // the DuckDB oracle recomputes signatures, banding, bucket caps and the
    // estimate exactly; production default is the xxhash64 family)
    "q_minhash_pairs" -> ((s, dir) =>
      Dedup.minhashLshPairs(DocsCorpus.documents(s, dir),
        shingleN = 2, numHashes = 16, bands = 8, family = Dedup.Md5Family)
        .select(col("doc_a"), col("doc_b"),
          round(col("est_jaccard"), 6).as("est_jaccard_r"))),

    // SimHash fingerprints (EXPLICIT Md5Family = oracle mode — DuckDB
    // recomputes the 60-bit fingerprints exactly; production default is one
    // xxhash64 digest per token occurrence)
    "q_simhash" -> ((s, dir) =>
      Dedup.simhash(DocsCorpus.documents(s, dir), family = Dedup.Md5Family)
        .select(col("doc_id"), col("simhash"))),

    // embedding cosine near-dup pairs, brute-force exact
    "q_embed_neardup" -> ((s, dir) =>
      Dedup.embeddingCosinePairs(
        DocsCorpus.table(s, dir, "embeddings"), threshold = 0.15, bruteForce = true)
        .select(col("doc_a"), col("doc_b"), col("cos"))),

    // brute-force cosine ANN top-k (query vecs = vec_id < 5)
    "q_ann_cosine_topk" -> ((s, dir) =>
      annContractTopK(s, dir, corpusFilter = identity)),

    // filtered vector search: candidates restricted by a metadata predicate
    // on the documents table (vec_id aligns with doc_id) — the filter is a
    // NARROW corpus pre-restriction (left-semi before the heap kernel), the
    // exact compositional shape a 100 TB filtered-ANN path wants: the
    // corpus still never shuffles and the kernel is unchanged.
    "q_ann_filtered_topk" -> ((s, dir) => {
      val allowed = DocsCorpus.documents(s, dir)
        .filter(col("lang") === "en").select(col("doc_id").as("vec_id"))
      annContractTopK(s, dir,
        corpusFilter = _.join(allowed, Seq("vec_id"), "left_semi"))
    }),

    // IVF-style ANN (approximate BY DESIGN, so no exact DuckDB oracle; the
    // driver check is rows-only). The query carries its own driver-visible
    // quality oracle instead: `in_exact_topk` marks whether each IVF hit is
    // in the query's EXACT brute-force top-k — the fraction of true rows is
    // the recall. DedupAnnSpec gates THIS configuration (same corpus,
    // nCells=16/iters=4/nProbe=12) at >= 0.9 in CI. Operating point
    // (~0.75 of the corpus scanned) chosen from the q_ann_ivf_sweep table:
    // the synthetic embeddings are near-isotropic (intra-label cosine
    // ~0.02), so high recall is intrinsically expensive on THIS corpus —
    // on separable data the same code reaches >=0.9 recall scanning <=25%
    // (~19% measured; DedupAnnSpec pins that too).
    "q_ann_ivf_topk" -> ((s, dir) => {
      val emb = DocsCorpus.table(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val centroids = Ann.lloyd(corpus,
        Ann.seedCentroids(corpus, nCells = 16), iters = 4)
      val withCell = Ann.assignCells(corpus, centroids)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Ann.bruteForceTopK(queries, corpus, k = 10)
        .select(col("query_id"), col("vec_id"), lit(true).as("in_exact_topk"))
      Ann.ivfTopK(queries, withCell, centroids, k = 10, nProbe = 12)
        .join(exact, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos_r"),
          col("rank"), coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
    }),

    // IVF quality/cost operating-point table (rows-only by design): recall
    // vs exact brute force and fraction of the corpus scanned, per nProbe —
    // the driver-visible evidence behind q_ann_ivf_topk's parameter choice.
    "q_ann_ivf_sweep" -> ((s, dir) => {
      val emb = DocsCorpus.table(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val centroids = Ann.lloyd(corpus,
        Ann.seedCentroids(corpus, nCells = 16), iters = 4)
      val withCell = Ann.assignCells(corpus, centroids)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Ann.bruteForceTopK(queries, corpus, k = 10)
      Ann.ivfSweep(queries, withCell, centroids, exact, k = 10,
        Seq(1, 2, 4, 8, 12, 16))
        .select(col("n_probe"), round(col("recall"), 4).as("recall_r"),
          round(col("scanned_fraction"), 4).as("scanned_frac_r"))
    }),

    // PERSISTED IVF index (rows-only, approximate by design): same corpus,
    // operating point, and self-check as q_ann_ivf_topk, but served from
    // the on-disk cell-clustered index (build/train once -> probe-pruned
    // scan) instead of the in-memory frames — the faiss
    // write_index/read_index lifecycle. IvfIndexSpec proves the persisted
    // path bit-identical to the in-memory kernel on shared centroids.
    "q_ann_ivf_persisted" -> ((s, dir) => {
      val emb = DocsCorpus.table(s, dir, "embeddings")
      val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
      val idxDir = graft.SparkEntry.scratchDir("graft-ivfp")
      graft.ann.IvfIndex.build(corpus, idxDir, nCells = 16, iters = 4)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
      val exact = Ann.bruteForceTopK(queries, corpus, k = 10)
        .select(col("query_id"), col("vec_id"), lit(true).as("in_exact_topk"))
      graft.ann.IvfIndex.search(s, idxDir, queries, k = 10, nProbe = 12)
        .join(exact, Seq("query_id", "vec_id"), "left")
        .select(col("query_id"), col("vec_id"), round(col("cos"), 4).as("cos_r"),
          col("rank"), coalesce(col("in_exact_topk"), lit(false)).as("in_exact_topk"))
    }),

    // IVF on a SEPARABLE corpus (rows-only by design, like the other IVF
    // queries): the sf embeddings are near-isotropic noise, so high recall
    // there is intrinsically scan-bound — this row is the driver-visible
    // evidence that on data with real cluster structure the same code
    // reaches recall >= 0.9 scanning <= 25% of the corpus (the property a
    // 100 TB IVF deployment relies on; DedupAnnSpec pins it in CI). The
    // corpus is synthesized deterministically (seeded) — 10 Gaussian
    // clusters, 600 vectors, dim 32; `meets_bar` marks the operating
    // points satisfying recall >= 0.9 AND scanned_fraction <= 0.25.
    "q_ann_ivf_clustered" -> ((s, _dir) => {
      import s.implicits._
      val rnd = new scala.util.Random(7)
      val dim = 32
      val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian() * 5.0))
      def jitter(c: Array[Double]) = c.toSeq.map(v => v + rnd.nextGaussian() * 0.3)
      val corpus = (0 until 600).map(i => (i.toLong, jitter(centers(i % 10))))
        .toDF("vec_id", "vec")
      val queries = (0 until 5).map(i => (i.toLong, jitter(centers(i))))
        .toDF("query_id", "qvec")
      val exact = Ann.bruteForceTopK(queries, corpus, 10)
      val cents = Ann.lloyd(corpus, Ann.seedCentroids(corpus, nCells = 16), iters = 4)
      val withCell = Ann.assignCells(corpus, cents)
      Ann.ivfSweep(queries, withCell, cents, exact, 10, Seq(1, 2, 3, 4, 8))
        .select(col("n_probe"),
          round(col("recall"), 4).as("recall_r"),
          round(col("scanned_fraction"), 4).as("scanned_frac_r"),
          (col("recall") >= 0.9 && col("scanned_fraction") <= 0.25).as("meets_bar"))
    }),

    // text quality features
    "q_text_quality" -> ((s, dir) => {
      val t = col("text")
      DocsCorpus.documents(s, dir).select(
        col("doc_id"),
        TextAnalysis.tokenCount(t).cast("long").as("n_tokens"),
        round(TextAnalysis.qualityFeatures(t).toMap.apply("mean_token_len"), 6)
          .as("mean_tok_len_r"),
        round(TextAnalysis.qualityFeatures(t).toMap.apply("space_ratio"), 6)
          .as("space_ratio_r"),
        TextAnalysis.qualityScore(t).as("quality_r"))
    }),

    // BPE-ish regex token counting (training-budget estimator)
    "q_token_bpeish" -> ((s, dir) =>
      DocsCorpus.documents(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeishCount(col("text")).cast("long").as("n_bpeish"))),

    // language-ID heuristic
    "q_lang_id" -> ((s, dir) =>
      DocsCorpus.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang_pred"))),

    // content fingerprint (sha256 prefix — reference F12/S8)
    "q_fingerprint" -> ((s, dir) =>
      DocsCorpus.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))),

    // P1/P5-style filters + U1 union-dedup over document subsets
    "q_filter_minlen" -> ((s, dir) =>
      DocsCorpus.documents(s, dir)
        .filter(length(col("text")) >= 200 && col("lang") === "en")
        .select(col("doc_id"))),

    "q_union_dedup" -> ((s, dir) => {
      val docs = DocsCorpus.documents(s, dir)
      val a = docs.filter(pmod(col("doc_id"), lit(2)) === 0).select(col("doc_id"))
      val b = docs.filter(pmod(col("doc_id"), lit(3)) === 0).select(col("doc_id"))
      a.union(b).distinct()
    }),

    // near-dup pairs -> connected components -> canonical survivors: the
    // dedup OUTPUT (one label per doc, cluster min as canonical), computed
    // by distributed large-star/small-star over the SAME pair source the
    // oracle recomputes (string-shingle Jaccard — the one DuckDB can
    // verify); the oracle's transitive closure is a recursive CTE.
    "q_neardup_labels" -> ((s, dir) => {
      val docs = DocsCorpus.documents(s, dir)
      Dedup.nearDupLabels(docs,
        Dedup.jaccardPairs(docs, n = 3, threshold = 0.05))
    }),

    // production-mode Jaccard parity row: the HASHED-shingle form (8-byte
    // xxhash64 keys through the heavy shuffles — the mode that actually
    // ships at 100 TB; string mode OOM-ed the 2M scale point) must emit
    // EXACTLY the oracle-verified string-mode pair set at contract scale.
    // matches_string = this pair appears in the string-mode result with
    // the same rounded jaccard; the driver-visible check is every row true
    // AND pair_count_delta = 0 on every row (set equality, both ways).
    "q_jaccard_hashed" -> ((s, dir) => {
      val docs = DocsCorpus.documents(s, dir)
      // each heavy pair plan materializes exactly ONCE (localCheckpoint);
      // the count diagnostics and the parity join both read the pinned
      // results instead of re-deriving the shingle joins (which would
      // quadruple the most expensive dedup computation in the battery)
      val hashed = Dedup.jaccardPairs(docs, n = 3, threshold = 0.05,
        hashedShingles = true).localCheckpoint()
      val str = Dedup.jaccardPairs(docs, n = 3, threshold = 0.05)
        .localCheckpoint()
        .withColumn("matches_string", lit(true))
      val delta = hashed.count() - str.drop("matches_string").count()
      hashed.join(str, Seq("doc_a", "doc_b", "jaccard"), "left")
        .select(col("doc_a"), col("doc_b"), col("jaccard"),
          coalesce(col("matches_string"), lit(false)).as("matches_string"),
          lit(delta).as("pair_count_delta"))
    })
  )

  private val tokCte =
    """WITH tok AS (
      |  SELECT doc_id, list_filter(regexp_split_to_array(lower(text), '\s+'), x -> x <> '') AS toks, text
      |  FROM documents
      |)
      |""".stripMargin

  /** Shared 3-gram string-shingle Jaccard CTE chain (sh/sizes/rare/inter)
    * — ONE definition for the plain-pairs, hashed-parity, and survivor
    * oracles so the three can't drift.
    */
  private val jaccardCtes =
    """, sh AS (
      |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS shingle
      |  FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 1)) AS i)
      |  WHERE len(toks) >= 3),
      |sizes AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sh FROM sh GROUP BY 1),
      |rare AS (SELECT sh.* FROM sh JOIN (
      |           SELECT shingle FROM sh GROUP BY 1 HAVING count(*) <= 1000) r USING (shingle)),
      |inter AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(count(*) AS BIGINT) AS n_inter
      |  FROM rare a JOIN rare b USING (shingle)
      |  WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
      |""".stripMargin

  private def jaccardPairsSelect(extraCols: String): String =
    s"""SELECT doc_a, doc_b,
       |       round(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) + 0.0 AS jaccard$extraCols
       |FROM inter
       |JOIN sizes sa ON sa.doc_id = doc_a
       |JOIN sizes sb ON sb.doc_id = doc_b
       |WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.05""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q_dedup_exact" ->
      """WITH fp AS (
        |  SELECT doc_id,
        |         substr(sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 16) AS f
        |  FROM documents)
        |SELECT doc_id, min(doc_id) OVER (PARTITION BY f) AS canonical_id FROM fp""".stripMargin,

    "q_jaccard_pairs" -> (tokCte + jaccardCtes + jaccardPairsSelect("")),

    // hashed production mode must equal the string-mode set EXACTLY at
    // contract scale: same pairs, every matches_string true, zero count
    // delta — so the 100 TB mode has its own oracle-exact green row
    "q_jaccard_hashed" -> (tokCte + jaccardCtes + jaccardPairsSelect(
      ",\n       true AS matches_string, CAST(0 AS BIGINT) AS pair_count_delta")),

    // transitive closure of the Jaccard pair graph: component = min
    // reachable doc_id; every doc labels (singletons = self), survivor =
    // the component minimum. Verifies the distributed large-star/
    // small-star against a recursive-CTE ground truth.
    "q_neardup_labels" ->
      (tokCte.replaceFirst("WITH ", "WITH RECURSIVE ") + jaccardCtes +
        """, jp AS (
          |  SELECT doc_a, doc_b
          |  FROM inter
          |  JOIN sizes sa ON sa.doc_id = doc_a
          |  JOIN sizes sb ON sb.doc_id = doc_b
          |  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.05),
          |edges AS (
          |  SELECT doc_a AS u, doc_b AS v FROM jp
          |  UNION SELECT doc_b, doc_a FROM jp),
          |reach AS (
          |  SELECT doc_id AS u, doc_id AS m FROM documents
          |  UNION
          |  SELECT e.u, r.m FROM edges e JOIN reach r ON e.v = r.u)
          |SELECT u AS doc_id, min(m) AS component_id,
          |       u = min(m) AS is_survivor
          |FROM reach GROUP BY u""".stripMargin),

    "q_simhash" ->
      (tokCte +
        """SELECT doc_id,
          |  list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, 60), b ->
          |    CASE WHEN list_sum(list_transform(toks, t ->
          |               CASE WHEN substr(md5(b || '|' || t), 1, 1) >= '8' THEN 1 ELSE -1 END)) > 0
          |         THEN (CAST(1 AS BIGINT) << CAST(b AS INT))
          |         ELSE CAST(0 AS BIGINT) END)),
          |    (a, b) -> a | b) AS simhash
          |FROM tok WHERE len(toks) > 0""".stripMargin),

    "q_minhash_pairs" ->
      (tokCte +
        """, shl AS (
          |  SELECT doc_id, list(DISTINCT shingle) AS shs FROM (
          |    SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i + 1] AS shingle
          |    FROM tok, LATERAL (SELECT unnest(range(1, len(toks))) AS i)
          |    WHERE len(toks) >= 2) t GROUP BY 1),
          |sig AS (
          |  SELECT doc_id,
          |    list_transform(range(0, 16),
          |      h -> list_min(list_transform(shs, s -> md5(h || '|' || s)))) AS sig
          |  FROM shl),
          |bands AS (
          |  SELECT doc_id, sig, b,
          |         md5(b || '|' || array_to_string(sig[b*2+1 : b*2+2], ',')) AS bucket
          |  FROM sig, LATERAL (SELECT unnest(range(0, 8)) AS b)),
          |small AS (
          |  SELECT * FROM bands QUALIFY count(*) OVER (PARTITION BY b, bucket) <= 200),
          |pairs AS (
          |  SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
          |         a.sig AS sa, b2.sig AS sb
          |  FROM small a JOIN small b2
          |    ON a.b = b2.b AND a.bucket = b2.bucket AND a.doc_id < b2.doc_id)
          |SELECT doc_a, doc_b,
          |       round(len(list_filter(range(1, 17), i -> sa[i] = sb[i])) / 16.0, 6) + 0.0 AS est_jaccard_r
          |FROM pairs""".stripMargin),

    "q_embed_neardup" ->
      """WITH v AS (SELECT vec_id, embedding FROM embeddings),
        |pairs AS (
        |  SELECT a.vec_id AS doc_a, b.vec_id AS doc_b,
        |    list_sum(list_transform(range(1, len(a.embedding) + 1),
        |      i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1, len(a.embedding) + 1), i -> CAST(a.embedding[i] AS DOUBLE) ** 2)))
        |     * sqrt(list_sum(list_transform(range(1, len(b.embedding) + 1), i -> CAST(b.embedding[i] AS DOUBLE) ** 2)))) AS cos
        |  FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT doc_a, doc_b, round(cos, 6) + 0.0 AS cos FROM pairs WHERE cos >= 0.15""".stripMargin,

    "q_ann_cosine_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |c AS (SELECT vec_id, embedding AS vec FROM embeddings),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |    round(list_sum(list_transform(range(1, len(qvec) + 1),
        |        i -> CAST(qvec[i] AS DOUBLE) * CAST(vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> CAST(qvec[i] AS DOUBLE) ** 2)))
        |       * sqrt(list_sum(list_transform(range(1, len(vec) + 1), i -> CAST(vec[i] AS DOUBLE) ** 2)))), 4) + 0.0 AS cos_r
        |  FROM q, c),
        |ranked AS (
        |  SELECT query_id, vec_id, cos_r,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, vec_id ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cos_r, rank FROM ranked WHERE rank <= 10""".stripMargin,

    "q_ann_filtered_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 5),
        |allowed AS (SELECT doc_id FROM documents WHERE lang = 'en'),
        |c AS (SELECT vec_id, embedding AS vec FROM embeddings
        |      WHERE vec_id IN (SELECT doc_id FROM allowed)),
        |scored AS (
        |  SELECT q.query_id, c.vec_id,
        |    round(list_sum(list_transform(range(1, len(qvec) + 1),
        |        i -> CAST(qvec[i] AS DOUBLE) * CAST(vec[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1, len(qvec) + 1), i -> CAST(qvec[i] AS DOUBLE) ** 2)))
        |       * sqrt(list_sum(list_transform(range(1, len(vec) + 1), i -> CAST(vec[i] AS DOUBLE) ** 2)))), 4) + 0.0 AS cos_r
        |  FROM q, c),
        |ranked AS (
        |  SELECT query_id, vec_id, cos_r,
        |         CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_r DESC, vec_id ASC) AS INT) AS rank
        |  FROM scored)
        |SELECT query_id, vec_id, cos_r, rank FROM ranked WHERE rank <= 10""".stripMargin,

    "q_text_quality" ->
      """WITH t AS (
        |  SELECT doc_id, text,
        |         list_filter(regexp_split_to_array(text, '\s+'), x -> x <> '') AS w
        |  FROM documents),
        |f AS (
        |  SELECT doc_id,
        |    CAST(len(w) AS BIGINT) AS n_tokens,
        |    CASE WHEN len(w) > 0
        |         THEN CAST(list_sum(list_transform(w, x -> len(x))) AS DOUBLE) / len(w)
        |         ELSE 0.0 END AS mtl,
        |    CASE WHEN len(text) > 0
        |         THEN CAST(len(text) - len(replace(text, ' ', '')) AS DOUBLE) / len(text)
        |         ELSE 0.0 END AS sr,
        |    CASE WHEN len(text) > 0
        |         THEN CAST(len(regexp_replace(text, '[^.,;:!?''"()\[\]{}-]', '', 'g')) AS DOUBLE) / len(text)
        |         ELSE 0.0 END AS pr,
        |    CASE WHEN len(text) > 0
        |         THEN CAST(len(regexp_replace(text, '[^0-9]', '', 'g')) AS DOUBLE) / len(text)
        |         ELSE 0.0 END AS dr
        |  FROM t)
        |SELECT doc_id, n_tokens, round(mtl, 6) + 0.0 AS mean_tok_len_r, round(sr, 6) + 0.0 AS space_ratio_r,
        |       round(least(CAST(n_tokens AS DOUBLE) / 100.0, 1.0)
        |             * greatest(0.0, 1.0 - pr * 5.0)
        |             * greatest(0.0, 1.0 - dr * 5.0), 6) + 0.0 AS quality_r
        |FROM f""".stripMargin,

    "q_token_bpeish" ->
      """SELECT doc_id,
        |       CAST(len(list_filter(regexp_extract_all(text,
        |         '''(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+'),
        |         p -> NOT regexp_matches(p, '^\s+$'))) AS BIGINT) AS n_bpeish
        |FROM documents""".stripMargin,

    "q_lang_id" ->
      (tokCte +
        """, s AS (
          |  SELECT doc_id,
          |    len(list_intersect(toks, ['der','die','das','und','ist','nicht','ein','zu','mit','den'])) AS s_de,
          |    len(list_intersect(toks, ['the','a','of','and','to','in','is','that','it','for'])) AS s_en,
          |    len(list_intersect(toks, ['el','la','los','las','y','es','un','una','que','por'])) AS s_es,
          |    len(list_intersect(toks, ['le','la','les','et','est','un','une','des','que','pour'])) AS s_fr
          |  FROM tok)
          |SELECT doc_id,
          |  CASE WHEN greatest(s_de, s_en, s_es, s_fr) = 0 THEN 'und'
          |       WHEN s_de = greatest(s_de, s_en, s_es, s_fr) THEN 'de'
          |       WHEN s_en = greatest(s_de, s_en, s_es, s_fr) THEN 'en'
          |       WHEN s_es = greatest(s_de, s_en, s_es, s_fr) THEN 'es'
          |       ELSE 'fr' END AS lang_pred
          |FROM s""".stripMargin),

    "q_fingerprint" ->
      """SELECT doc_id,
        |       substr(sha256(regexp_replace(trim(lower(text)), '\s+', ' ', 'g')), 1, 16) AS fp
        |FROM documents""".stripMargin,

    "q_filter_minlen" ->
      "SELECT doc_id FROM documents WHERE len(text) >= 200 AND lang = 'en'",

    "q_union_dedup" ->
      """SELECT DISTINCT doc_id FROM (
        |  SELECT doc_id FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT doc_id FROM documents WHERE doc_id % 3 = 0) u""".stripMargin
  )
}
