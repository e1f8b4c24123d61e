package graft

import graft.metrics.RankMetrics
import graft.fuse.Fusion
import org.apache.spark.sql.functions._

/** Golden-value metric tests ported 1:1 from the reference
  * (`/root/reference/tests/test_metrics/`): same qrels/ranking fixture,
  * same expected values, places=4 tolerance like the originals.
  */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  // qid2positive = {q1:[d1,d3], q2:[d1], q3:[d2,d3]}
  // qid2ranking = {q1:[d1,d2,d3,d4], q2:[d2,d1,d3], q3:[d1,d3,d2]}
  private lazy val qrels = Seq(
    (1L, 1L), (1L, 3L), (2L, 1L), (3L, 2L), (3L, 3L)).toDF("query_id", "doc_id")
  private lazy val ranking = Seq(
    (1L, 1L, 1), (1L, 2L, 2), (1L, 3L, 3), (1L, 4L, 4),
    (2L, 2L, 1), (2L, 1L, 2), (2L, 3L, 3),
    (3L, 1L, 1), (3L, 3L, 2), (3L, 2L, 3)).toDF("query_id", "doc_id", "rank")

  private def log2d(x: Double) = math.log(x) / math.log(2)

  test("mrr@3 matches reference golden") {
    // q1: 1/1, q2: 1/2, q3: 1/2 -> mean = (1 + 0.5 + 0.5)/3
    assert(math.abs(RankMetrics.mrrAt(ranking, qrels, 3) - 2.0 / 3) < 1e-4)
  }

  test("map@3 matches reference golden") {
    // q1: (1/1 + 2/3)/2 ; q2: (1/2)/1 ; q3: (1/2 + 2/3)/2
    val expected = ((1.0 + 2.0 / 3) / 2 + 0.5 + (0.5 + 2.0 / 3) / 2) / 3
    assert(math.abs(RankMetrics.mapAt(ranking, qrels, 3) - expected) < 1e-4)
  }

  test("ndcg@3 matches reference golden") {
    def dcg(rels: Seq[Int], k: Int) =
      rels.take(k).zipWithIndex.map { case (r, i) => r / log2d(i + 2) }.sum
    def ndcg(rels: Seq[Int], k: Int) = {
      val ideal = dcg(rels.sorted.reverse, k)
      if (ideal > 0) dcg(rels, k) / ideal else 0.0
    }
    val expected = (ndcg(Seq(1, 0, 1, 0), 3) + ndcg(Seq(0, 1, 0), 3) +
      ndcg(Seq(0, 1, 1), 3)) / 3
    assert(math.abs(RankMetrics.ndcgAt(ranking, qrels, 3) - expected) < 1e-4)
  }

  test("recall@3 (fbeta) matches reference semantics") {
    // q1: d1,d3 both in top3 -> 2/2 ; q2: d1 at rank2 -> 1/1 ; q3: d3@2,d2@3 -> 2/2
    assert(math.abs(RankMetrics.recallAt(ranking, qrels, 3) - 1.0) < 1e-4)
    // at k=1: q1 hit d1 -> 1/2; q2 rank1 miss -> 0; q3 rank1 miss -> 0
    assert(math.abs(RankMetrics.recallAt(ranking, qrels, 1) - (0.5 / 3)) < 1e-4)
  }

  test("hit_rate@3 matches reference semantics") {
    // hits@3/3 per q: q1: 2/3, q2: 1/3, q3: 2/3; mean over qrels-queries
    val expected = (2.0 / 3 + 1.0 / 3 + 2.0 / 3) / 3
    assert(math.abs(RankMetrics.hitRateAt(ranking, qrels, 3) - expected) < 1e-4)
  }

  /** The five-pass oracle of `summaryFused`: each metric its own job over
    * the reference-shaped per-metric plan, in one row.
    */
  private def summary(ranking: org.apache.spark.sql.DataFrame,
                      qrels: org.apache.spark.sql.DataFrame, k: Int) =
    Seq((RankMetrics.recallAt(ranking, qrels, k), RankMetrics.hitRateAt(ranking, qrels, k),
      RankMetrics.mrrAt(ranking, qrels, k), RankMetrics.mapAt(ranking, qrels, k),
      RankMetrics.ndcgAt(ranking, qrels, k)))
      .toDF("recall", "hit_rate", "mrr", "map", "ndcg")

  test("summaryFused == five-pass summary (golden fixture + random fixture)") {
    def check(r: org.apache.spark.sql.DataFrame,
              q: org.apache.spark.sql.DataFrame, k: Int, ulps: Int): Unit = {
      val slow = summary(r, q, k).collect()(0)
      val fast = RankMetrics.summaryFused(r, q, k).collect()(0)
      // monotone bits mapping makes the long distance a true ulp count
      // across signs (raw doubleToLongBits differences are meaningless —
      // and overflow — when the sign bits differ)
      def ob(d: Double): BigInt = {
        val b = java.lang.Double.doubleToLongBits(d)
        BigInt(b) match { case x if b < 0 => BigInt(Long.MinValue) - x; case x => x }
      }
      Seq("recall", "hit_rate", "mrr", "map", "ndcg").foreach { m =>
        val (f, s) = (fast.getAs[Double](m), slow.getAs[Double](m))
        // cross-query summation ORDER differs between the two plans, so
        // equality holds to the final ulp, not bitwise in general
        assert((ob(f) - ob(s)).abs <= ulps,
          s"$m: fused $f vs 5-pass $s (> $ulps ulps)")
      }
    }
    check(ranking, qrels, 3, ulps = 0) // golden fixture: bit-exact
    // random fixture incl. queries with no qrels, qrels with no ranking,
    // hits beyond k, empty-hit queries
    val rnd = new scala.util.Random(5)
    val bigQ = (0 until 200)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(50).toLong))
      .distinct.toDF("query_id", "doc_id")
    val bigR = (0 until 30).flatMap { qid =>
      val docs = rnd.shuffle((0 until 50).toList).take(20)
      docs.zipWithIndex.map { case (d, i) => (qid.toLong, d.toLong, i + 1) }
    }.toDF("query_id", "doc_id", "rank")
    check(bigR, bigQ, 10, ulps = 2)
  }

  test("rrf fusion golden (2 retrievers, hand-computed)") {
    // retr A ranks docs 1,2,3 ; retr B ranks 2,1 ; weights 1.0 / 0.5, k=60
    val in = Seq(
      ("A", 1L, 1L, 1, 1.0), ("A", 1L, 2L, 2, 1.0), ("A", 1L, 3L, 3, 1.0),
      ("B", 1L, 2L, 1, 0.5), ("B", 1L, 1L, 2, 0.5))
      .toDF("retriever", "query_id", "doc_id", "rank", "weight")
    val got = Fusion.rrf(in, kRrf = 60, topK = 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf_score"),
        r.getAs[Int]("rank"))).sortBy(_._3)
    val s1 = 1.0 / 61 + 0.5 / 62 // doc1
    val s2 = 1.0 / 62 + 0.5 / 61 // doc2
    val s3 = 1.0 / 63            // doc3
    assert(got.map(_._1).toSeq == Seq(1L, 2L, 3L))
    assert(math.abs(got(0)._2 - s1) < 1e-12)
    assert(math.abs(got(1)._2 - s2) < 1e-12)
    assert(math.abs(got(2)._2 - s3) < 1e-12)
  }

  test("label join marks positives exactly") {
    val labeled = Fusion.label(ranking, qrels).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Int]("label")).toMap
    assert(labeled((1L, 1L)) == 1 && labeled((1L, 2L)) == 0)
    assert(labeled((2L, 1L)) == 1 && labeled((2L, 2L)) == 0)
    assert(labeled((3L, 3L)) == 1 && labeled((3L, 1L)) == 0)
  }

  test("hard negatives exclude positives and respect window + count") {
    val got = Fusion.hardNegatives(ranking, qrels, lo = 2, hi = 4, n = 1)
    val rows = got.collect().map(r =>
      (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"), r.getAs[Int]("rank")))
    // each query contributes at most 1, rank in [2,4), never a positive
    val pos = Set((1L, 1L), (1L, 3L), (2L, 1L), (3L, 2L), (3L, 3L))
    assert(rows.groupBy(_._1).forall(_._2.length <= 1))
    assert(rows.forall { case (_, _, r) => r >= 2 && r < 4 })
    assert(rows.forall { case (q, d, _) => !pos.contains((q, d)) })
    // deterministic across runs
    val again = Fusion.hardNegatives(ranking, qrels, lo = 2, hi = 4, n = 1)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")))
    assert(rows.map(t => (t._1, t._2)).toSeq == again.toSeq)
  }
}
