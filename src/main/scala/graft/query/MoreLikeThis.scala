package graft.query

import org.apache.spark.sql.{DataFrame, SparkSession}

/** more_like_this (ES MLT): use a DOCUMENT as the query. The doc's terms
  * are ranked by tf·idf (per-doc tf, the index's eps-floored corpus idf),
  * the top `maxTerms` become a distinct-term query (each term once, its
  * own idf — ES's default boost_terms=0 shape), and the query serves
  * through the block-max WAND kernel. The source doc itself is not
  * excluded (it naturally ranks first; callers drop it if unwanted).
  *
  * Determinism contract: term selection orders by the tf·idf product
  * ROUNDED to 6 decimals (ties term asc) — libm `ln` may differ from JVM
  * `Math.log` in final ulps, so an unrounded comparison could flip
  * near-ties between the engine and the SQL oracle; rounding pins the
  * selection on both sides (the same discipline as the rounded-rank
  * contract queries).
  */
object MoreLikeThis {

  def search(spark: SparkSession, indexDir: String,
             docs: Seq[(Long, String)], maxTerms: Int, k: Int): DataFrame = {
    require(maxTerms > 0, s"MoreLikeThis: maxTerms must be positive (got $maxTerms)")
    // ONE snapshot and ONE prepare: its idf maps drive the term selection,
    // and the reduced queries reuse the same idf over the same version (no
    // second df lookup). The reduced PreparedQuery is exactly what
    // re-tokenizing "selected.sorted.mkString(' ')" would produce: sorted
    // distinct terms, each with its already-prepared idf.
    val snap = graft.index.PackedIndex.snapshot(indexDir)
    val prepared = Wand.prepare(spark, snap, docs)
    val reduced = prepared.flatMap { pq =>
      if (pq.idf.isEmpty) None
      else {
        val tf = pq.tokens.groupBy(identity).map { case (t, a) => t -> a.length }
        val selected = pq.idf.toSeq
          .map { case (t, idf) =>
            t -> BigDecimal(tf(t).toDouble * idf)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP)
          }
          .sortBy { case (t, w) => (-w, t) }
          .take(maxTerms).map(_._1).sorted
        Some(Wand.PreparedQuery(pq.queryId, selected.toArray,
          pq.idf.filter { case (t, _) => selected.contains(t) }))
      }
    }
    ShardServe.globalRank(Wand.candidates(spark, snap, reduced, k), k)
  }
}
