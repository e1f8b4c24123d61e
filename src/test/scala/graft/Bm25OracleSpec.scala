package graft

import graft.core.{Bm25, Bm25Params}
import graft.index.InvertedIndex
import graft.query.Bm25Query
import org.apache.spark.sql.functions._

/** BM25 semantics: hand-computed goldens + in-JVM oracle vs the distributed
  * DataFrame path (FIXTURES.md §5). The oracle mirrors rank_bm25.BM25Okapi
  * (invoked by the reference at retrieval_auto.py:384,391).
  */
class Bm25OracleSpec extends SparkSpec {
  import spark.implicits._

  private val P = Bm25Params(k1 = 1.2, b = 0.75, epsilon = 0.25)

  test("hand-computed idf with eps floor") {
    // corpus of 4 docs; term "the" in all 4 -> raw idf = ln(0.5) - ln(4.5) < 0
    val docs = IndexedSeq(
      "the cat sat", "the dog ran", "the cat ran fast", "the bird").map(_.split(" "))
    val o = new Bm25.Oracle(docs, P)
    // raw idfs: the: ln(4-4+.5)-ln(4.5); cat: ln(2.5)-ln(2.5)=0 (not <0, kept);
    // dog/bird/sat/fast: ln(3.5)-ln(1.5); ran: ln(2.5)-ln(2.5)=0
    val rawThe = math.log(0.5) - math.log(4.5)
    val rawRare = math.log(3.5) - math.log(1.5)
    val vocabRaw = Map(
      "the" -> rawThe, "cat" -> 0.0, "sat" -> rawRare, "dog" -> rawRare,
      "ran" -> 0.0, "fast" -> rawRare, "bird" -> rawRare)
    val avgIdf = vocabRaw.values.sum / vocabRaw.size
    assert(math.abs(o.idf("the") - 0.25 * avgIdf) < 1e-12)
    assert(o.idf("cat") == 0.0)
    assert(math.abs(o.idf("dog") - rawRare) < 1e-12)
  }

  test("hand-computed score") {
    val docs = IndexedSeq("a b a", "b c", "c d e f").map(_.split(" "))
    val o = new Bm25.Oracle(docs, P)
    // avgdl = (3+2+4)/3 = 3
    assert(o.avgdl == 3.0)
    // query "a": df(a)=1, raw idf = ln(3-1+0.5)-ln(1.5)=ln(2.5)-ln(1.5) > 0
    val idfA = math.log(2.5) - math.log(1.5)
    val expected0 = idfA * 2 * 2.2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 3.0 / 3.0))
    val s = o.scores(Seq("a"))
    assert(math.abs(s(0) - expected0) < 1e-12)
    assert(s(1) == 0.0 && s(2) == 0.0)
  }

  test("repeated query terms count per occurrence") {
    val docs = IndexedSeq("a b", "b c").map(_.split(" "))
    val o = new Bm25.Oracle(docs, P)
    val once = o.scores(Seq("a"))(0)
    val twice = o.scores(Seq("a", "a"))(0)
    assert(math.abs(twice - 2 * once) < 1e-12)
  }

  test("unseen query terms contribute zero") {
    val docs = IndexedSeq("a b", "b c").map(_.split(" "))
    val o = new Bm25.Oracle(docs, P)
    assert(o.scores(Seq("zzz")).forall(_ == 0.0))
  }

  test("distributed DataFrame path matches in-JVM oracle on a random corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Array.tabulate(80)(i => s"t$i")
    val docs: IndexedSeq[Array[String]] = IndexedSeq.tabulate(300) { _ =>
      val len = 1 + rnd.nextInt(40)
      // zipf-ish: square the draw to skew toward low indices
      Array.fill(len)(vocab(math.min((math.pow(rnd.nextDouble(), 2) * vocab.length).toInt, vocab.length - 1)))
    }
    val oracle = new Bm25.Oracle(docs, P)

    val df = docs.zipWithIndex
      .map { case (terms, i) => (i.toLong, terms.mkString(" ")) }
      .toDF("doc_id", "text")
    val tok = InvertedIndex.tokenize(df, "doc_id", "text")
    val post = InvertedIndex.postings(tok)
    val dls = InvertedIndex.docLens(tok)
    val st = InvertedIndex.corpusStats(dls).first()
    assert(st.getLong(0) == 300L)
    assert(math.abs(st.getDouble(1) - oracle.avgdl) < 1e-9)
    val idf = InvertedIndex.idfTable(InvertedIndex.docFreq(post), st.getLong(0), P)

    // idf table parity
    val idfMap = idf.collect().map(r => r.getString(0) -> r.getDouble(2)).toMap
    oracle.idf.foreach { case (t, v) =>
      assert(math.abs(idfMap(t) - v) < 1e-9, s"idf mismatch for $t")
    }

    // score parity for a battery of queries (incl. repeats and absent terms)
    val queries = Seq(
      Seq("t0"), Seq("t0", "t1", "t2"), Seq("t5", "t5", "t60"),
      Seq("absent"), Seq("t70", "t79", "t0", "t3", "t3"))
    queries.foreach { q =>
      val got = InvertedIndex
        .scoreQuery(post, idf, dls, st.getDouble(1), q, P)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
      val want = oracle.scores(q).zipWithIndex
        .collect { case (s, i) if s != 0.0 => i.toLong -> s }.toMap
      assert(got.keySet == want.keySet, s"doc set mismatch for $q")
      want.foreach { case (d, s) =>
        assert(math.abs(got(d) - s) < 1e-9, s"score mismatch q=$q doc=$d")
      }
    }
  }

  test("batched multi-query path matches oracle with ranking") {
    val docs = IndexedSeq(
      "apple banana apple", "banana cherry", "apple cherry date",
      "date egg fig", "apple apple apple banana").map(_.split(" "))
    val oracle = new Bm25.Oracle(docs, P)
    val corpusDf = docs.zipWithIndex
      .map { case (t, i) => (i.toLong, t.mkString(" ")) }.toDF("doc_id", "text")
    val tok = InvertedIndex.tokenize(corpusDf, "doc_id", "text")
    val post = InvertedIndex.postings(tok)
    val dls = InvertedIndex.docLens(tok)
    val st = InvertedIndex.corpusStats(dls).first()
    val idf = InvertedIndex.idfTable(InvertedIndex.docFreq(post), st.getLong(0), P)

    val queries = Seq((0L, "apple banana"), (1L, "cherry"), (2L, "egg fig date"))
    val qdf = queries.toDF("query_id", "text")
    val hits = Bm25Query.scoreBatch(post, idf, dls, st.getDouble(1),
      Bm25Query.queryTerms(qdf), P)
    val ranked = graft.query.ShardServe.globalRank(hits, 3).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank")) ->
        (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toMap

    queries.foreach { case (qid, qtext) =>
      val want = oracle.topK(qtext.split(" ").toSeq, 3)
        .filter(_._2 != 0.0) // engine omits zero-score docs
      want.zipWithIndex.foreach { case ((doc, score), i) =>
        val (gd, gs) = ranked((qid, i + 1))
        assert(gd == doc, s"rank ${i + 1} of q$qid: got doc $gd want $doc")
        assert(math.abs(gs - score) < 1e-9)
      }
    }
  }
}
