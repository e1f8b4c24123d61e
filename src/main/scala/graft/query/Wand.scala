package graft.query

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.index.{IndexSnapshot, IndexStats, PackedBlock, PackedIndex, PackedPostings}

/** Block-max WAND top-k over the packed, doc-sharded index.
  *
  * Physical plan (the shared [[ShardServe]] driver, this file supplying the
  * per-shard kernel):
  *   packed postings scan, `term IN (query terms)` pushed to parquet
  *     -> shard-capped exchange on `shard`, sorted by (shard, term), both
  *        planned under the kernel node [[graft.plans.ShardKernelExec]]
  *        (shuffle proportional to the MATCHED postings only, guaranteeing
  *        every query term of a doc range is co-located even if file
  *        splits would have torn a shard apart)
  *     -> per task: DAAT WAND over each whole shard with per-list and
  *        per-block upper bounds, into ONE bounded heap per query
  *     -> per-query global rank over numTasks*k candidate rows (tiny).
  *
  * Rank/score parity with the exhaustive reference semantics
  * (`/root/reference/src/retrievals/models/retrieval_auto.py:391-393`) is
  * exact, not approximate: pruning only skips docs whose upper bound is
  * STRICTLY below the current heap threshold, and full evaluation sums term
  * contributions in original query-token order, reproducing the oracle's
  * floating-point summation bit-for-bit. Ties break by docId asc everywhere.
  *
  * The reference's physical analogue is exhaustive scoring of all docs; this
  * kernel is the engine's scale improvement (SURVEY §4) and is verified
  * rank-identical by Wand == Oracle property tests.
  */
object Wand {

  /** Safety margin for floating-point score upper bounds (see TermPostings). */
  private val BoundPad: Double = 1.0 + 4 * math.ulp(1.0)

  /** Above this many distinct query terms, `term IN (...)` predicates are
    * replaced by a probe of a broadcast term set: a 50k-element In pushed
    * into the parquet scan is slower to evaluate per row-group than a hash
    * probe, and bloats the plan string. Below it, pushdown prunes row
    * groups.
    */
  private[graft] val IsinThreshold = 512

  /** One query prepared for the kernel. `tokens` is the raw token sequence
    * (repeats preserved — each occurrence scores, matching the reference's
    * per-occurrence loop); `idf` maps each distinct matched term. `mustNot`
    * is the Elasticsearch bool `must_not` clause: distinct excluded terms
    * (restricted to the index vocabulary — an unindexed term excludes
    * nothing), sorted for determinism; a doc containing ANY of them is
    * barred from the result heap while scoring/stats of surviving docs are
    * untouched (exclusion restricts candidates, never the formula — the
    * same contract as the allowlist and minimum_should_match).
    */
  final case class PreparedQuery(queryId: Long, tokens: Array[String],
                                 idf: Map[String, Double],
                                 mustNot: Array[String] = Array.empty) {
    /** Distinct-term occurrence counts, computed ONCE per query — the
      * kernel previously rebuilt this map per (query, shard) (r7).
      */
    lazy val multiplicity: Map[String, Int] =
      tokens.groupBy(identity).map { case (t, a) => t -> a.length }
  }

  /** Prepare a query batch against `snap`: look up global df for the union
    * of query terms (the cached map, or the df view of the same
    * term-filtered postings the kernel scans), compute eps-floored idf from
    * the snapshot's stats. Driver-side work is O(|distinct query terms|).
    */
  def prepare(spark: SparkSession, snap: IndexSnapshot,
              queries: Seq[(Long, String)],
              mustNot: Map[Long, String] = Map.empty,
              boosts: Map[Long, Map[String, Double]] = Map.empty)
      : Seq[PreparedQuery] = {
    val tokenized = queries.map { case (id, text) =>
      id -> graft.tokenize.PyTokenize.split(text)
    }
    val mustNotTok: Map[Long, Array[String]] = mustNot.map { case (id, text) =>
      id -> graft.tokenize.PyTokenize.split(text).distinct.sorted
    }
    boosts.foreach { case (id, bs) =>
      bs.foreach { case (t, b) =>
        require(b > 0 && !b.isInfinite,
          s"Wand.prepare: boost for query $id term '$t' must be finite " +
            s"positive (got $b)")
      }
    }
    // one df lookup for the union: must_not terms ride the same scan so an
    // excluded term's vocabulary membership costs no extra job
    val allTerms =
      (tokenized.flatMap(_._2) ++ mustNotTok.valuesIterator.flatten).distinct
    val dfMap: Map[String, Long] =
      if (allTerms.isEmpty) Map.empty
      else IndexCache.dfMap(spark, snap) match {
        // bounded vocabulary: driver-local lookups, no per-batch Spark job
        // (the high-QPS serving floor; keyed by the snapshot's version, so
        // appends/compactions are picked up)
        case Some(full) =>
          allTerms.iterator.flatMap(t => full.get(t).map(t -> _)).toMap
        case None =>
          PackedIndex.dfOf(matched(spark, snap, allTerms))
            .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      }
    tokenized.map { case (id, toks) =>
      // Query-time term boost (ES `term^boost` / Lucene boost semantics):
      // the boost scales the term's whole BM25 contribution, which is
      // linear in idf — so folding it into the per-term idf up front keeps
      // every downstream bound (weightedIdf, listBound, blockUb) valid
      // without kernel changes, exactly like occurrence multiplicity.
      val qBoosts = boosts.getOrElse(id, Map.empty)
      val idf = toks.distinct.flatMap { t =>
        dfMap.get(t).map(df => t -> snap.stats.idf(df) * qBoosts.getOrElse(t, 1.0))
      }.toMap
      PreparedQuery(id, toks, idf,
        mustNotTok.getOrElse(id, Array.empty).filter(dfMap.contains))
    }
  }

  /** Distributed search: per-shard WAND + global rank. Returns
    * (query_id, doc_id, score, rank), rank 1..k. `k <= 0` means "all matched
    * docs, ranked" — consistent with [[graft.core.Bm25]]'s oracle topK.
    *
    * `allowedDocs` (optional) is an Elasticsearch-filter-context candidate
    * allowlist: only listed doc_ids may enter the result heap, while
    * idf/avgdl stay full-corpus (the filter restricts candidates, never
    * statistics). It ships to executors as ONE sorted broadcast array and is
    * consulted by binary search immediately before full evaluation — WAND's
    * block-max skipping stays untouched and correct, because dropping
    * candidates only lowers the heap threshold versus the unfiltered run
    * (bounds remain valid upper bounds). Suited to selective filters (the
    * list must fit in a broadcast); a non-selective filter should instead
    * pre-restrict the corpus at index-build time.
    *
    * @param minShouldMatch Elasticsearch `minimum_should_match` semantics:
    *        only docs matching at least this many DISTINCT query terms may
    *        enter the heap (1 = plain disjunctive retrieval; |terms| =
    *        conjunctive AND). Scoring of qualifying docs is unchanged —
    *        the constraint restricts candidates, never the formula, so the
    *        oracle is the exhaustive ranking filtered by a distinct-match
    *        count (one shared DuckDB HAVING clause).
    */
  def search(spark: SparkSession, indexDir: String,
             queries: Seq[(Long, String)], k: Int,
             allowedDocs: Option[Array[Long]] = None,
             minShouldMatch: Int = 1,
             mustNot: Map[Long, String] = Map.empty,
             boosts: Map[Long, Map[String, Double]] = Map.empty): DataFrame =
    search(spark, PackedIndex.snapshot(indexDir), queries, k, allowedDocs,
      minShouldMatch, mustNot, boosts)

  /** [[search]] served entirely from `snap`: its stats, df, postings,
    * shard count and tombstones.
    */
  private[graft] def search(spark: SparkSession, snap: IndexSnapshot,
                            queries: Seq[(Long, String)], k: Int,
                            allowedDocs: Option[Array[Long]],
                            minShouldMatch: Int,
                            mustNot: Map[Long, String],
                            boosts: Map[Long, Map[String, Double]]): DataFrame =
    ShardServe.globalRank(candidates(spark, snap,
      prepare(spark, snap, queries, mustNot, boosts), k, allowedDocs,
      minShouldMatch), k)

  /** [[search]] of an already-prepared batch before the global rank:
    * (query_id, doc_id, score), at most k rows per (task, query), from the
    * shard kernel node — the body of [[search]], of [[MoreLikeThis]], which
    * selects terms from the prepared idf maps first, and of each
    * [[searchDs]] chunk, which hands every chunk the SAME `pinned`,
    * laid-out postings so the scan+shuffle runs once per batch. Results
    * are independent of any extra terms present in the rows (cursors exist
    * only for each query's own terms).
    */
  private[graft] def candidates(spark: SparkSession, snap: IndexSnapshot,
                                prepared: Seq[PreparedQuery], k: Int,
                                allowedDocs: Option[Array[Long]] = None,
                                minShouldMatch: Int = 1,
                                pinned: Option[Dataset[PackedPostings]] = None): DataFrame = {
    if (!prepared.exists(_.idf.nonEmpty)) return ShardServe.emptyHits(spark)
    // must_not terms join the pushed-down posting scan: their lists feed
    // per-query exclusion cursors in the shard kernel (no scoring cursors —
    // only positive terms carry idf entries)
    val rows = pinned.getOrElse(matched(spark, snap,
      (prepared.flatMap(_.idf.keys) ++ prepared.flatMap(_.mustNot)).distinct))
    val bc = spark.sparkContext.broadcast((snap.stats, prepared))
    val bcAllowed = spark.sparkContext.broadcast(
      allowedDocs.map(_.sorted).orNull)
    // tombstoned docs are invisible to every search (PackedIndex.delete)
    val bcDenied = spark.sparkContext.broadcast(
      if (snap.tombstones.isEmpty) null else snap.tombstones)
    ShardServe.kernelHits(spark, rows, snap.numShards, "wand", k,
      () => bc.value._2.iterator.map(_.queryId).toArray) { (rows, heaps) =>
      val (st, qs) = bc.value
      scoreShard(rows, qs, st, bcAllowed.value, bcDenied.value,
        minShouldMatch, heaps)
    }
  }

  /** `snap`'s postings of the driver-side term list `terms`: `term IN
    * (...)` pushed into the scan at or below [[IsinThreshold]] terms, above
    * it a filter probing the list as a broadcast set (a broadcast variable,
    * so unlike a broadcast join it runs no job of its own).
    */
  private def matched(spark: SparkSession, snap: IndexSnapshot,
                      terms: Seq[String]): Dataset[PackedPostings] =
    if (terms.size <= IsinThreshold) snap.postings(spark).filter(col("term").isin(terms: _*))
    else {
      val bcTerms = spark.sparkContext.broadcast(terms.toSet)
      snap.postings(spark).filter(udf((t: String) => bcTerms.value.contains(t)).apply(col("term")))
    }

  /** Dataset-typed query batch: the large-batch path. The query frame is
    * collected to the driver once ([[ChunkedServe.collect]]; the driver
    * holds the whole batch, bounded by `spark.driver.maxResultSize` for a
    * scanned query table). A batch of at most `chunkSize` queries is
    * exactly [[search]]. A larger one is served in deterministic chunks
    * through [[ChunkedServe.serve]]: each chunk runs the broadcast kernel
    * path over the batch's pinned postings, and its hits are pinned in the
    * block manager; at most four chunks run at once. The call takes one
    * [[IndexSnapshot]] and every chunk is served from it, so a commit that
    * lands mid-call changes no chunk's answer.
    *
    * Parity: identical to [[search]] on the same batch (RetrieverSpec).
    */
  def searchDs(spark: SparkSession, indexDir: String, queries: DataFrame,
               k: Int, chunkSize: Int = 10000,
               allowedDocs: Option[Array[Long]] = None,
               minShouldMatch: Int = 1,
               mustNot: Map[Long, String] = Map.empty): DataFrame =
    searchDs(spark, PackedIndex.snapshot(indexDir), queries, k, chunkSize,
      allowedDocs, minShouldMatch, mustNot)

  /** [[searchDs]] served entirely from `snap`: every chunk scores with the
    * snapshot's stats and df over its postings, minus its tombstones.
    */
  private[graft] def searchDs(spark: SparkSession, snap: IndexSnapshot,
                              queries: DataFrame, k: Int, chunkSize: Int,
                              allowedDocs: Option[Array[Long]],
                              minShouldMatch: Int,
                              mustNot: Map[Long, String]): DataFrame = {
    val batch = ChunkedServe.collect(queries, chunkSize, "searchDs")
    if (batch.length <= chunkSize)
      return search(spark, snap, batch.toSeq, k, allowedDocs, minShouldMatch,
        mustNot, Map.empty)
    // Above one chunk the index side is prepared ONCE for the whole batch:
    // the union of the batch's tokens (the same CPython-parity tokenizer as
    // prepare()) restricts the postings scan, and the result is pinned in
    // the kernel's layout, so every chunk's kernel reads the cached
    // partitions with no exchange. The pin lives strictly inside this
    // call: materialized before the chunk pool starts, unpersisted after.
    val terms = (batch.iterator.map(_._2) ++ mustNot.valuesIterator)
      .flatMap(graft.tokenize.PyTokenize.split(_)).toSeq.distinct
    val grouped = ShardServe.shardPartitioned(spark, snap.numShards,
      matched(spark, snap, terms))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      grouped.foreachPartition((_: Iterator[PackedPostings]) => ()) // materialize once
      ChunkedServe.serve(batch, chunkSize) { chunk =>
        ShardServe.globalRank(candidates(spark, snap,
          prepare(spark, snap, chunk, mustNot), k, allowedDocs,
          minShouldMatch, Some(grouped)), k)
      }
    } finally grouped.unpersist(false)
  }

  // ---- per-shard kernel ------------------------------------------------

  /** Query-independent per-(shard,term) state shared by every query in the
    * batch: the block array plus precomputed tf-norm bounds
    * (norm(maxTf, minDl) — increasing in tf, decreasing in dl, so it bounds
    * every posting under the CURRENT avgdl, staying valid across appends).
    * Computing these once per term row instead of per (query, cursor) drops
    * the batch's setup cost from O(blocks x queries) to O(blocks).
    */
  private final class TermPostings(val blocks: Array[PackedBlock],
                                   k1: Double, b: Double, avgdl: Double) {
    // Shared once-per-(shard,term) lazy block decode. Every query in the
    // batch that enters block bi reads the SAME decoded arrays — the old
    // per-Cursor decode re-ran the varint kernel once per (query, block),
    // which at a 10k-query chunk meant thousands of decodes of each hot
    // term's blocks per shard (r7; the dominant cost of the Dataset batch
    // path). Tasks process one shard group single-threaded, so the lazy
    // fill needs no synchronization. Memory: the batch's matched postings
    // of one shard, bounded by the shard width.
    private val dDocs = new Array[Array[Long]](blocks.length)
    private val dTfs = new Array[Array[Long]](blocks.length)
    private val dDls = new Array[Array[Long]](blocks.length)
    private def decodeBlock(bi: Int): Unit = {
      val blk = blocks(bi)
      val codec = graft.index.Codec
      val deltas = codec.readVarLongs(blk.docs, blk.count)
      val ids = new Array[Long](blk.count)
      var acc = blk.base
      var i = 0
      while (i < blk.count) { acc += deltas(i); ids(i) = acc; i += 1 }
      dDocs(bi) = ids
      dTfs(bi) = codec.readVarLongs(blk.tfs, blk.count)
      dDls(bi) = codec.readVarLongs(blk.dls, blk.count)
    }
    def docsOf(bi: Int): Array[Long] = {
      if (dDocs(bi) == null) decodeBlock(bi)
      dDocs(bi)
    }
    def tfsOf(bi: Int): Array[Long] = dTfs(bi)
    def dlsOf(bi: Int): Array[Long] = dDls(bi)

    val blockNorms: Array[Double] = {
      val out = new Array[Double](blocks.length)
      var i = 0
      while (i < blocks.length) {
        val blk = blocks(i)
        // Widened by a few ulps: the bound is computed in a different fp
        // association order than evalDoc's per-occurrence accumulation, so a
        // posting with tf==maxTf && dl==minDl could otherwise score ulps
        // ABOVE its "upper bound" and be wrongly pruned on a threshold tie.
        // Padding only loosens pruning (never correctness).
        out(i) = blk.maxTf.toDouble /
          (blk.maxTf + k1 * (1.0 - b + b * blk.minDl / avgdl)) * BoundPad
        i += 1
      }
      out
    }
    val maxNorm: Double = {
      var m = 0.0
      var i = 0
      while (i < blockNorms.length) { if (blockNorms(i) > m) m = blockNorms(i); i += 1 }
      m
    }
  }

  /** Cursor over one term's packed blocks within a shard. Decodes a block
    * lazily on first positioning inside it; skips whole blocks via maxDoc.
    */
  private final class Cursor(val term: String, val idf: Double,
                             val weightedIdf: Double,
                             tp: TermPostings) {
    private val blocks: Array[PackedBlock] = tp.blocks
    val listUb: Double = tp.maxNorm
    @inline private def blockNorm(i: Int): Double = tp.blockNorms(i)
    private var bi = 0
    private var pi = 0
    private var docIds: Array[Long] = null
    private var tfs: Array[Long] = null
    private var dls: Array[Long] = null
    var curDoc: Long = -1L
    positionAtBlockStart()

    private def decode(): Unit = {
      // shared decode: arrays live on the TermPostings, filled once per
      // (shard, term, block) for the WHOLE query batch
      docIds = tp.docsOf(bi)
      tfs = tp.tfsOf(bi)
      dls = tp.dlsOf(bi)
    }

    /** Position at the current block's first posting WITHOUT decoding: the
      * block header carries the first docId (base). Decoding happens lazily
      * on first content access — blocks that WAND skips entirely (or only
      * probes via base/maxDoc) never pay varint decode.
      */
    private def positionAtBlockStart(): Unit = {
      if (bi >= blocks.length) { curDoc = Long.MaxValue }
      else { pi = 0; docIds = null; curDoc = blocks(bi).base }
    }

    @inline private def ensureDecoded(): Unit =
      if (docIds == null) decode()

    def exhausted: Boolean = curDoc == Long.MaxValue

    /** List-level score upper bound. Clamped at 0 for negative idf (a term
      * whose contributions are all non-positive can never push a doc above
      * the threshold; its true max is nearer 0 than weightedIdf*maxNorm, so
      * the unclamped product would UNDER-estimate and prune wrongly).
      */
    def listBound: Double =
      if (weightedIdf > 0) weightedIdf * listUb else 0.0

    /** Current block's score upper bound (same clamping). */
    def blockUb: Double =
      if (exhausted || weightedIdf <= 0) 0.0 else weightedIdf * blockNorm(bi)

    def tf: Long = { ensureDecoded(); tfs(pi) }
    def dl: Long = { ensureDecoded(); dls(pi) }

    /** Advance to the first doc >= target. Block-skipping via maxDoc; a
      * block whose base already satisfies the target is entered without
      * decoding.
      */
    def seek(target: Long): Unit = {
      if (exhausted || curDoc >= target) return
      // skip whole blocks (header-only)
      while (bi < blocks.length && blocks(bi).maxDoc < target) {
        bi += 1; pi = 0; docIds = null
      }
      if (bi >= blocks.length) { curDoc = Long.MaxValue; return }
      if (docIds == null) {
        if (blocks(bi).base >= target) { positionAtBlockStart(); return }
        decode()
      }
      // binary search within block
      var lo = pi
      var hi = docIds.length - 1
      if (docIds(lo) < target) {
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (docIds(mid) < target) lo = mid + 1 else hi = mid
        }
        pi = lo
      }
      curDoc = docIds(pi)
    }

    def next(): Unit = {
      if (exhausted) return
      ensureDecoded() // stepping inside the block needs its content
      pi += 1
      if (pi >= docIds.length) { bi += 1; positionAtBlockStart() }
      else curDoc = docIds(pi)
    }
  }

  /** WAND over one shard's matched rows for every query in the batch,
    * offering query i's candidates into `heaps(i)` — the task-owned heaps
    * of the shard kernel node. A (shard, term) can appear in MULTIPLE
    * rows when the shard spans build groups (incremental appends land in
    * new groups): their block lists cover disjoint, monotone docId ranges
    * and are concatenated in baseDocId order to form one logical posting
    * list.
    */
  private def scoreShard(rows: Iterator[PackedPostings],
                         queries: Seq[PreparedQuery], stats: IndexStats,
                         allowed: Array[Long], denied: Array[Long],
                         minShouldMatch: Int,
                         heaps: Array[ShardServe.TopKHeap]): Unit = {
    val p0 = stats.params
    val rawByTerm = scala.collection.mutable.HashMap.empty[String, Array[PackedBlock]]
    rows.foreach { r =>
      rawByTerm.get(r.term) match {
        case None => rawByTerm.update(r.term, r.blocks)
        case Some(existing) =>
          rawByTerm.update(r.term, (existing ++ r.blocks).sortBy(_.base))
      }
    }
    val byTerm = rawByTerm.map { case (t, blks) =>
      t -> new TermPostings(blks, p0.k1, p0.b, stats.avgdl)
    }
    val p = stats.params
    var qi = 0
    val qit = queries.iterator
    while (qit.hasNext) {
      val q = qit.next()
      // distinct matched terms with occurrence multiplicity; weightedIdf
      // folds the multiplicity so bounds stay per-distinct-cursor.
      // Zero-idf cursors (raw idf is exactly 0 at df == N/2; also every
      // term under epsilon = 0 params) stay ALIVE: they contribute exactly
      // 0.0 to every score (listBound/blockUb clamp at 0, evalDoc adds
      // idf*... = 0.0), but they must keep their docs retrievable and count
      // toward minimum_should_match — the exhaustive oracles (DuckDB tf
      // JOIN, rank_bm25 get_scores) include docs matched only by such terms
      // with score 0, and ES msm counts ANY matched query term.
      val multiplicity = q.multiplicity
      val cursors: Array[Cursor] = q.idf.iterator.collect {
        case (t, idf) if byTerm.contains(t) =>
          new Cursor(t, idf, idf * (p.k1 + 1.0) * multiplicity(t), byTerm(t))
      }.toArray
      if (cursors.nonEmpty && cursors.length >= minShouldMatch) {
        // must_not exclusion cursors: plain posting cursors (idf 0 — they
        // never score or bound) consulted right before full evaluation.
        // Evaluated docs are non-decreasing in the WAND loop, so the
        // forward-only block-skipping seek is sufficient.
        val excl: Array[Cursor] = q.mustNot.collect {
          case t if byTerm.contains(t) => new Cursor(t, 0.0, 0.0, byTerm(t))
        }
        wandLoop(cursors, q, heaps(qi), stats, allowed, denied,
          minShouldMatch, excl)
      }
      qi += 1
    }
  }

  /** Full evaluation of one doc: iterate the ORIGINAL token sequence so the
    * floating-point accumulation order matches the exhaustive oracle
    * bit-for-bit (Bm25.Oracle.scores adds per occurrence in query order).
    */
  private def evalDoc(doc: Long, q: PreparedQuery,
                      byTerm: java.util.HashMap[String, Cursor],
                      stats: IndexStats): Double = {
    val p = stats.params
    var score = 0.0
    var i = 0
    while (i < q.tokens.length) {
      val c = byTerm.get(q.tokens(i)) // null when term absent: no allocation
      if (c != null && c.curDoc == doc)
        score += graft.core.Bm25.termScore(c.idf, c.tf, c.dl, stats.avgdl, p)
      i += 1
    }
    score
  }

  /** True iff any must_not exclusion cursor's posting list contains `doc`.
    * Cursors advance monotonically (callers evaluate docs in non-decreasing
    * order), so each list is walked at most once per query per shard.
    */
  private def excludedBy(excl: Array[Cursor], doc: Long): Boolean = {
    var i = 0
    while (i < excl.length) {
      val c = excl(i)
      if (c.curDoc < doc) c.seek(doc)
      if (c.curDoc == doc) return true
      i += 1
    }
    false
  }

  /** Allocation-free DAAT loop: the cursor array is kept sorted in place by
    * insertion sort (nearly-sorted between iterations), exhausted cursors
    * are compacted in place, and no per-iteration objects are created —
    * the earlier sortBy-per-iteration version generated enough garbage to
    * stall 32-thread executors in GC.
    */
  private def wandLoop(cursors: Array[Cursor], q: PreparedQuery,
                       heap: ShardServe.TopKHeap, stats: IndexStats,
                       allowed: Array[Long] = null,
                       denied: Array[Long] = null,
                       minShouldMatch: Int = 1,
                       excl: Array[Cursor] = Array.empty): Unit = {
    val byTerm = new java.util.HashMap[String, Cursor](cursors.length * 2)
    cursors.foreach(c => byTerm.put(c.term, c))
    val arr = new Array[Cursor](cursors.length)
    var nActive = 0
    cursors.foreach { c => if (!c.exhausted) { arr(nActive) = c; nActive += 1 } }

    // minimum_should_match: fewer live cursors than the requirement means
    // no remaining doc can qualify (each cursor is one distinct term)
    while (nActive >= math.max(1, minShouldMatch)) {
      // insertion sort by curDoc (tiny, nearly sorted)
      var si = 1
      while (si < nActive) {
        val c = arr(si)
        var sj = si - 1
        while (sj >= 0 && arr(sj).curDoc > c.curDoc) { arr(sj + 1) = arr(sj); sj -= 1 }
        arr(sj + 1) = c
        si += 1
      }
      val theta = heap.threshold
      // pivot: first prefix whose LIST-level ub sum could beat theta
      var acc = 0.0
      var pivotIdx = -1
      var i = 0
      while (i < nActive && pivotIdx < 0) {
        acc += arr(i).listBound
        if (acc >= theta) pivotIdx = i // >= : equal-score docs can still win by docId
        i += 1
      }
      if (pivotIdx < 0) return // no remaining doc can enter the heap
      val pivotDoc = arr(pivotIdx).curDoc
      // Allowlist advance (the Lucene DocIdSet-advance pattern): docs below
      // the pivot can never be evaluated (their prefix bound is < theta), so
      // when the pivot itself is filtered out, every doc in [pivotDoc,
      // nextAllowed) is dead — jump all cursors straight to the next allowed
      // doc instead of crawling the postings one doc at a time. For a
      // selective filter this skips whole blocks via each cursor's maxDoc
      // metadata.
      val allowBs =
        if (allowed == null) 0 else java.util.Arrays.binarySearch(allowed, pivotDoc)
      val pivotAllowed = allowBs >= 0
      if (!pivotAllowed) {
        val ins = -allowBs - 1
        if (ins >= allowed.length) return // allowlist exhausted: done
        val target = allowed(ins)
        var j = 0
        while (j < nActive && arr(j).curDoc < target) { arr(j).seek(target); j += 1 }
      } else if (arr(0).curDoc == pivotDoc) {
        // all cursors before pivot are aligned at pivotDoc:
        // refine with BLOCK-level bounds before full evaluation
        var blockAcc = 0.0
        var aligned = 0
        var j = 0
        while (j <= pivotIdx) {
          arr(j).seek(pivotDoc); blockAcc += arr(j).blockUb
          if (arr(j).curDoc == pivotDoc) aligned += 1
          j += 1
        }
        // include later cursors that happen to sit on pivotDoc
        while (j < nActive && arr(j).curDoc == pivotDoc) {
          blockAcc += arr(j).blockUb; aligned += 1; j += 1
        }
        // pivotAllowed holds here: the allowlist case was handled above.
        // Tombstones are a DENYLIST over a dense complement, so there is no
        // jump target to seek to — just skip the evaluation (cursors still
        // advance past the doc below). `aligned` counts the distinct query
        // terms present in the doc — the minimum_should_match gate
        // (scoring itself is unchanged for qualifying docs).
        if (aligned >= minShouldMatch && blockAcc >= theta &&
            (denied == null ||
              java.util.Arrays.binarySearch(denied, pivotDoc) < 0) &&
            (excl.length == 0 || !excludedBy(excl, pivotDoc))) {
          val s = evalDoc(pivotDoc, q, byTerm, stats)
          heap.offer(s, pivotDoc)
        }
        // advance every cursor sitting on pivotDoc
        var a = 0
        while (a < nActive) { if (arr(a).curDoc == pivotDoc) arr(a).next(); a += 1 }
      } else {
        // seek cursors before the pivot up to pivotDoc
        var j = 0
        while (j < pivotIdx) { arr(j).seek(pivotDoc); j += 1 }
      }
      // compact exhausted cursors in place
      var w = 0
      var r = 0
      while (r < nActive) {
        if (!arr(r).exhausted) { arr(w) = arr(r); w += 1 }
        r += 1
      }
      nActive = w
    }
  }
}
