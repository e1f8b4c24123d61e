package graft.query

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Phrase, ordered-proximity and NEAR search (reference analogue: none;
  * the reference has no phrase operator — this extends the engine's
  * fulltext surface), two ways: WITHOUT a positional index, a conjunctive
  * `array_contains` prefilter over the tokenized corpus then exact
  * per-doc verification of the candidates' token arrays (the corpus text
  * is never shuffled); and from the POSITIONAL index arm alone
  * ([[search]] and the `*Positional` operators), with identical counts.
  *
  * tf = number of sliding phrase matches (overlaps counted); top-k by
  * (phrase_tf desc, doc_id asc) — deterministic, SQL-expressible, so the
  * whole operator carries an exact DuckDB oracle (q_phrase_topk).
  */
object Phrase {

  /** Top-k docs by ordered proximity count (corpus-rescan verify path —
    * the positional-index sibling is [[proximityTopKPositional]]).
    * Candidates come from an `array_contains` prefilter on the token
    * arrays — the conjunctive predicate evaluated where the data already
    * sits (no postings aggregation, no join, no shuffle; the count kernel
    * is the positional arm's, shared).
    */
  def proximityTopK(tokenized: DataFrame,
                    a: String, b: String, slop: Int, k: Int): DataFrame = {
    require(slop >= 1, "proximityTopK: slop must be >= 1")
    rescanTopK(tokenized, Array(a, b), "prox_tf", k)(proximityKernelCount(slop))
  }

  /** Ordered proximity top-k from the POSITIONAL index arm alone: a
    * one-query [[search]] of [[PositionalQuery.ProximityMatch]], counting
    * for every co-occurring doc the pairs (p in pos(a), q in pos(b)) with
    * 0 < q - p <= slop via two binary searches per leader position.
    * Count-identical to [[proximityTopK]] (PhraseSpec property + shared
    * DuckDB oracle). Honors tombstones; stale arm fails loudly.
    */
  def proximityTopKPositional(spark: org.apache.spark.sql.SparkSession,
                              indexDir: String, a: String, b: String,
                              slop: Int, k: Int): DataFrame =
    searchOne(spark, indexDir, PositionalQuery.ProximityMatch(a, b, slop), k,
      "prox_tf")

  /** Per-doc ordered-proximity kernel over slot position arrays: count of
    * (a at p, b at q) pairs with 0 < q - p <= slop. Shared by the
    * single-query and batched serving paths.
    */
  private[query] def proximityKernelCount(slop: Int): Array[Array[Long]] => Long = {
    (slotPos: Array[Array[Long]]) =>
      val posA = slotPos(0)
      val posB = slotPos(1)
      var cnt = 0L
      var i = 0
      while (i < posA.length) {
        val p = posA(i)
        // count posB in (p, p + slop]
        val lo = {
          val r = java.util.Arrays.binarySearch(posB, p + 1)
          if (r >= 0) r else -r - 1
        }
        val hi = {
          val r = java.util.Arrays.binarySearch(posB, p + slop + 1)
          if (r >= 0) r else -r - 1
        }
        cnt += hi - lo
        i += 1
      }
      cnt
  }

  /** Top-k docs by unordered NEAR count (corpus-rescan verify path — the
    * positional-index sibling is [[nearTopKPositional]]; candidates as in
    * [[proximityTopK]]).
    */
  def nearTopK(tokenized: DataFrame,
               terms: Seq[String], slop: Int, k: Int): DataFrame = {
    require(slop >= 1, "nearTopK: slop must be >= 1")
    require(terms.length >= 2 && terms.distinct == terms,
      "nearTopK: need >= 2 distinct terms")
    rescanTopK(tokenized, terms.toArray, "near_tf", k)(nearKernelCount(slop))
  }

  /** Unordered NEAR top-k from the POSITIONAL index arm alone: a one-query
    * [[search]] of [[PositionalQuery.NearMatch]]; per anchor position, each
    * follower term is probed with two binary searches for an occurrence in
    * [p - slop, p + slop]. Count-identical to [[nearTopK]] (PhraseSpec
    * property + shared DuckDB oracle). Honors tombstones; stale arm fails
    * loudly.
    */
  def nearTopKPositional(spark: org.apache.spark.sql.SparkSession,
                         indexDir: String, terms: Seq[String],
                         slop: Int, k: Int): DataFrame =
    searchOne(spark, indexDir, PositionalQuery.NearMatch(terms, slop), k,
      "near_tf")

  /** Per-doc unordered-NEAR kernel over slot position arrays: anchors p of
    * slot 0 where every follower slot has an occurrence in [p-slop, p+slop].
    * Shared by the single-query and batched serving paths.
    */
  private[query] def nearKernelCount(slop: Int): Array[Array[Long]] => Long = {
    (slotPos: Array[Array[Long]]) =>
      val anchors = slotPos(0)
      var cnt = 0L
      var i = 0
      while (i < anchors.length) {
        val p = anchors(i)
        var ok = true
        var j = 1
        while (ok && j < slotPos.length) {
          val arr = slotPos(j)
          // first occurrence >= p - slop; in-window iff it is <= p + slop
          val r = java.util.Arrays.binarySearch(arr, p - slop)
          val lo = if (r >= 0) r else -r - 1
          ok = lo < arr.length && arr(lo) <= p + slop
          j += 1
        }
        if (ok) cnt += 1
        i += 1
      }
      cnt
  }

  /** Top-k docs by sliding phrase count. `tokenized` is (doc_id, terms);
    * candidates as in [[proximityTopK]].
    */
  def topK(tokenized: DataFrame, phrase: Seq[String], k: Int): DataFrame = {
    require(phrase.nonEmpty, "topK: empty phrase")
    rescanTopK(tokenized, phrase.toArray, "phrase_tf", k)(phraseKernelCount)
  }

  /** [[topK]] with an unused `postings` argument, kept only because the
    * benchmark harness (`loadbench/`) calls this signature.
    */
  @deprecated("postings is unused; call topK(tokenized, phrase, k)", "0.1.0")
  def topK(tokenized: DataFrame, postings: DataFrame,
           phrase: Seq[String], k: Int): DataFrame = topK(tokenized, phrase, k)

  /** Shared corpus-rescan top-k: narrow `array_contains` conjunctive
    * prefilter (the same candidate set the old postings semi-join produced,
    * with zero shuffles — guide §2.4 "remove shuffles outright"), then the
    * SAME per-doc position-array kernels the positional index arm runs
    * (count-identical by PhraseSpec/the shared DuckDB oracles; the previous
    * Catalyst higher-order-function folds evaluated interpreted, measured
    * as the dominant cost of these queries). One narrow stage up to the
    * bounded top-k.
    */
  private def rescanTopK(tokenized: DataFrame, slots: Array[String],
                         countCol: String, k: Int)(
      countFn: Array[Array[Long]] => Long): DataFrame = {
    val spark = tokenized.sparkSession
    import spark.implicits._
    val pre = slots.distinct.map(t => array_contains(col("terms"), t))
      .reduce(_ && _)
    val counted = tokenized
      .filter(pre)
      .select(col("doc_id"), col("terms"))
      .as[(Long, Seq[String])]
      .mapPartitions { it =>
        it.flatMap { case (id, toks) =>
          val cnt = countFn(slotPositionsOf(toks, slots))
          if (cnt > 0) Iterator.single((id, cnt)) else Iterator.empty
        }
      }
      .toDF("doc_id", countCol)
    val bounded = counted
      .orderBy(col(countCol).desc, col("doc_id").asc).limit(k)
    graft.index.InvertedIndex.rankBounded(bounded, col("doc_id"),
      col(countCol).desc, col("doc_id").asc)
  }

  /** 1-based occurrence positions of each slot term in one doc's token
    * sequence, shaped exactly like the positional index's per-slot arrays
    * (repeated slot terms share one array) so the positional kernels apply
    * unchanged. One pass over the tokens.
    */
  private[query] def slotPositionsOf(toks: Seq[String],
                                     slots: Array[String]): Array[Array[Long]] = {
    val distinct = slots.distinct
    val builders = new java.util.HashMap[String, scala.collection.mutable.ArrayBuilder.ofLong]()
    distinct.foreach(t => builders.put(t, new scala.collection.mutable.ArrayBuilder.ofLong))
    var p = 1L
    val it = toks.iterator
    while (it.hasNext) {
      val b = builders.get(it.next())
      if (b != null) b += p
      p += 1
    }
    val byTerm = distinct.map(t => t -> builders.get(t).result()).toMap
    slots.map(byTerm)
  }

  /** Top-k phrase search from the POSITIONAL index arm alone — no corpus
    * rescan (the production shape once [[graft.index.PositionalIndex]] is
    * built): a one-query [[search]] of [[PositionalQuery.PhraseMatch]]. The
    * phrase terms' positional rows are pulled with a pushed-down term
    * filter, co-located per doc-shard (every term of a doc lives in the
    * same shard by construction), and a per-shard kernel intersects the
    * terms' sorted doc lists and counts adjacency runs by binary-searching
    * each follower term's position array. Identical counts to the sliding
    * verify ([[topK]]) — pinned by PhraseSpec property tests and the shared
    * q_phrase DuckDB oracle. Honors tombstones.
    *
    * Scale shape: only the phrase terms' postings move (one shard
    * repartition of those rows), candidates never materialize globally, and
    * per shard the work is |rarest term's postings| binary searches.
    */
  def topKPositional(spark: org.apache.spark.sql.SparkSession,
                     indexDir: String, phrase: Seq[String], k: Int): DataFrame =
    searchOne(spark, indexDir, PositionalQuery.PhraseMatch(phrase), k,
      "phrase_tf")

  /** One-query [[search]] in the single-query operators' schema:
    * (doc_id, `countCol` long, rank).
    */
  private def searchOne(spark: org.apache.spark.sql.SparkSession,
                        indexDir: String, q: PositionalQuery, k: Int,
                        countCol: String): DataFrame =
    search(spark, indexDir, Seq(0L -> q), k)
      .select(col("doc_id"), col("score").cast("long").as(countCol),
        col("rank"))

  /** Per-doc exact-phrase kernel over slot position arrays: leader position
    * p matches iff slot j holds p + j for every j. Shared by the
    * single-query and batched serving paths.
    */
  private[query] val phraseKernelCount: Array[Array[Long]] => Long = {
    (slotPos: Array[Array[Long]]) =>
      val leader = slotPos(0)
      var cnt = 0L
      var li = 0
      while (li < leader.length) {
        val p = leader(li)
        var ok = true
        var j = 1
        while (ok && j < slotPos.length) {
          if (java.util.Arrays.binarySearch(slotPos(j), p + j) < 0) ok = false
          j += 1
        }
        if (ok) cnt += 1
        li += 1
      }
      cnt
  }

  /** Batched positional serving — the Retriever-shaped entry point: many
    * [[PositionalQuery]] specs answered in ONE pass over the positional
    * arm. Returns (query_id, doc_id, score, rank), score = the query's
    * match count (an exact integer in a double — rank order is therefore
    * SQL-replicable, which is what lets WAND+positional ensembles carry an
    * exact DuckDB oracle, q_ensemble_phrase).
    *
    * Scale shape (flat in batch size, like the WAND batch kernel): the
    * UNION of the batch's terms is pulled with one pushed-down IN filter
    * and one shard repartition; per shard every term is decoded ONCE and
    * shared by all queries touching it; matches go straight into the
    * task's heap per query ([[graft.plans.ShardKernelExec]]), so the final
    * per-query rank window sees <= numTasks x k rows — matched-doc counts
    * never materialize globally. A query naming a term the arm lacks
    * matches nothing (the shard kernel skips it).
    *
    * The call takes one [[graft.index.IndexSnapshot]]. An arm whose
    * lineage stamp does not cover exactly the snapshot's groups fails
    * loudly ([[graft.index.PositionalIndex.load]], checked on the driver),
    * so a warm call runs only its two query jobs: the shard shuffle and
    * the result (plus the rank window's shuffle on a multi-shard index).
    */
  def search(spark: org.apache.spark.sql.SparkSession, indexDir: String,
             queries: Seq[(Long, PositionalQuery)], k: Int): DataFrame =
    search(spark, graft.index.PackedIndex.snapshot(indexDir), queries, k)

  /** [[search]] served from `snap`: its positional arm, shard count and
    * tombstones.
    */
  private[graft] def search(spark: org.apache.spark.sql.SparkSession,
                            snap: graft.index.IndexSnapshot,
                            queries: Seq[(Long, PositionalQuery)], k: Int): DataFrame = {
    require(k > 0, "Phrase.search: k must be > 0")
    if (queries.isEmpty) return ShardServe.globalRank(ShardServe.emptyHits(spark), k)
    val allTerms = queries.flatMap(_._2.slotTerms).distinct
    val posRows = graft.index.PositionalIndex.load(spark, snap)
      .filter(col("term").isin(allTerms: _*))
    val bcTomb = spark.sparkContext.broadcast(snap.tombstones)
    val bcQueries = spark.sparkContext.broadcast(queries.toArray)
    val hits = ShardServe.kernelHits(spark, posRows, snap.numShards, "phrase", k,
      () => bcQueries.value.map(_._1)) { (rows, heaps) =>
      val qs = bcQueries.value
      val decoded = decodeShard(rows)
      var qi = 0
      while (qi < qs.length) {
        val pq = qs(qi)._2
        intersectCounts(decoded, pq.slotTerms.toArray, bcTomb.value,
          pq.kernel, heaps(qi))
        qi += 1
      }
    }
    ShardServe.globalRank(hits, k)
  }

  /** Dataset-typed positional query batch: (query_id, text) rows parsed by
    * `mode`, served in deterministic chunks through the same chunked-batch
    * machinery as [[Wand.searchDs]] (the batch collected once, chunks cut
    * on the driver, hits pinned in the block manager), every chunk from one
    * [[graft.index.IndexSnapshot]] taken at the start of the call. Parity
    * with [[search]] on the same batch is pinned in RetrieverSpec.
    */
  def searchDs(spark: org.apache.spark.sql.SparkSession, indexDir: String,
               queries: DataFrame, mode: PositionalMode, k: Int,
               chunkSize: Int = 10000): DataFrame = {
    val snap = graft.index.PackedIndex.snapshot(indexDir)
    val batch = ChunkedServe.collect(queries, chunkSize, "Phrase.searchDs")
    ChunkedServe.serve(batch, chunkSize) { chunk =>
      search(spark, snap,
        chunk.map { case (id, text) => id -> mode.parse(text) }, k)
    }
  }

  /** Decode one shard's positional rows ONCE per term: sorted doc ids +
    * per-doc position arrays. A (shard, term) may span multiple rows
    * (appends land in new groups) — block lists are concatenated in base
    * order like the WAND kernel does. In the batch path this decode is
    * shared by every query touching the term.
    */
  private[query] def decodeShard(rows: Iterator[graft.index.PosPostings]):
      collection.Map[String, (Array[Long], Array[Array[Long]])] = {
    val byTerm = scala.collection.mutable.HashMap.empty[String, Array[graft.index.PackedPosBlock]]
    rows.foreach { r =>
      byTerm.get(r.term) match {
        case None => byTerm.update(r.term, r.blocks)
        case Some(existing) =>
          byTerm.update(r.term, (existing ++ r.blocks).sortBy(_.base))
      }
    }
    byTerm.map { case (t, blocks) =>
      val docs = Array.newBuilder[Long]
      val poss = Array.newBuilder[Array[Long]]
      blocks.foreach { b =>
        val cb = b.toCodec
        docs ++= cb.decodeDocIds
        poss ++= cb.decodePositions
      }
      t -> (docs.result(), poss.result())
    }
  }

  /** Intersect the DISTINCT slot terms' sorted doc lists with a k-way merge
    * and apply `countFn` to each surviving doc's per-slot position arrays,
    * offering (count, doc_id) into `heap` for counts > 0.
    */
  private[query] def intersectCounts(decodedAll: collection.Map[String, (Array[Long], Array[Array[Long]])],
                                     phrase: Array[String],
                                     tomb: Array[Long],
                                     countFn: Array[Array[Long]] => Long,
                                     heap: ShardServe.TopKHeap): Unit = {
    val distinctTerms = phrase.distinct
    if (!distinctTerms.forall(decodedAll.contains)) return
    // k-way sorted intersection over the distinct terms' doc lists
    val lists = distinctTerms.map(decodedAll)
    // slot -> its term's list (repeated terms share their array)
    val slotList = phrase.map(t => distinctTerms.indexOf(t))
    val cursors = new Array[Int](lists.length)
    var done = false
    while (!done) {
      // candidate = max of current heads; advance all lists to it
      var cand = Long.MinValue
      var i = 0
      while (i < lists.length && !done) {
        if (cursors(i) >= lists(i)._1.length) done = true
        else if (lists(i)._1(cursors(i)) > cand) cand = lists(i)._1(cursors(i))
        i += 1
      }
      if (!done) {
        var aligned = true
        i = 0
        while (i < lists.length) {
          val docsArr = lists(i)._1
          var c = cursors(i)
          while (c < docsArr.length && docsArr(c) < cand) c += 1
          cursors(i) = c
          if (c >= docsArr.length) { aligned = false; done = true }
          else if (docsArr(c) != cand) aligned = false
          i += 1
        }
        if (aligned) {
          if (java.util.Arrays.binarySearch(tomb, cand) < 0) {
            // every list's cursor is aligned at cand
            val cnt = countFn(slotList.map(li => lists(li)._2(cursors(li))))
            if (cnt > 0) heap.offer(cnt.toDouble, cand)
          }
          // advance every list past the candidate
          i = 0
          while (i < lists.length) { cursors(i) += 1; i += 1 }
        }
      }
    }
  }
}
