package loadbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.corpus.{PagesGen, PagesPipeline}
import graft.index.InvertedIndex
import graft.query.Bm25Query
import scala.collection.mutable

/** Docs [firstDoc, firstDoc + count) hold pages firstGen + i·[[Corpus.Stride]]. */
final case class Segment(firstDoc: Long, firstGen: Long, count: Long)

object Corpus {
  /** Spacing of the `PagesGen` page ids the harness generates. `PagesGen`
    * seeds `java.util.Random` with seed·C + id, and the first draws of
    * `java.util.Random` for consecutive seeds are nearly linear in the
    * seed: over a few thousand consecutive ids the stopword-heavy share and
    * the page lengths then depend on the seed (live text of one 1,500-page
    * corpus measured 13% apart between two seeds). A prime stride spreads
    * consecutive pages over the generator's seed space.
    */
  val Stride = 7919L
}

/** Which generated page each committed doc id holds, and which ids are
  * tombstoned. The engine assigns ids; the harness predicts them from the
  * engine's documented contract — a build numbers its input pages in
  * generation order, and an append continues above the committed count in
  * input order (the harness hands appends a single partition) — and the
  * correctness gate fails if a prediction is wrong.
  */
final class Corpus(val seed: Long, val vocabSize: Int, val skew: Double) {
  import Corpus.Stride

  private val segments = mutable.ArrayBuffer.empty[Segment]
  val tombstones: mutable.TreeSet[Long] = mutable.TreeSet.empty[Long]
  private var nextGen = 0L

  def committed: Long = segments.map(_.count).sum
  def live: Long = committed - tombstones.size

  /** The pages of `seg`, in order, in `partitions` partitions. */
  private def pages(spark: SparkSession, seg: Segment, partitions: Int): DataFrame = {
    import spark.implicits._
    val (s, v, k, g0) = (seed, vocabSize, skew, seg.firstGen)
    spark.range(0L, seg.count, 1L, partitions)
      .map(i => PagesGen.gen(g0 + i * Stride, s, v, k)).toDF()
  }

  private def add(n: Long): Segment = {
    val seg = Segment(committed, nextGen, n)
    segments += seg
    nextGen += n * Stride
    seg
  }

  /** The initial corpus of `n` pages. */
  def initial(spark: SparkSession, n: Long, partitions: Int): DataFrame = {
    require(segments.isEmpty, "initial corpus already recorded")
    pages(spark, add(n), partitions)
  }

  /** Fresh pages for one append; returns the pages and their predicted ids. */
  def nextAppend(spark: SparkSession, n: Long): (DataFrame, Seq[Long]) = {
    val seg = add(n)
    (pages(spark, seg, 1), seg.firstDoc until seg.firstDoc + n)
  }

  def delete(ids: Seq[Long]): Unit = tombstones ++= ids

  /** Random live ids, none of them in `exclude`. */
  def pickLive(rnd: scala.util.Random, n: Int, exclude: Set[Long] = Set.empty): Seq[Long] = {
    val picked = mutable.LinkedHashSet.empty[Long]
    while (picked.size < n) {
      val d = (rnd.nextDouble() * committed).toLong
      if (!tombstones.contains(d) && !dropped.contains(d) && !exclude.contains(d))
        picked += d
    }
    picked.toSeq
  }

  private def genOf(doc: Long): Long = segments.collectFirst {
    case s if doc >= s.firstDoc && doc < s.firstDoc + s.count =>
      s.firstGen + (doc - s.firstDoc) * Stride
  }.getOrElse(throw new IllegalArgumentException(s"doc $doc was never committed"))

  /** Token sequences of the given docs, through the engine's public
    * extraction and tokenization (one small Spark job).
    */
  def termsOf(spark: SparkSession, docIds: Seq[Long]): Map[Long, Array[String]] = {
    import spark.implicits._
    val (s, v, k) = (seed, vocabSize, skew)
    val docOfGen = docIds.map(d => genOf(d) -> d).toMap
    val frame = spark.createDataset(docOfGen.keys.toSeq)
      .map(i => PagesGen.gen(i, s, v, k)).toDF()
    val docs = PagesPipeline.extracted(frame).select(
      regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long").as("gen"), col("text"))
    InvertedIndex.tokenize(docs, "gen", "text").collect()
      .map(r => docOfGen(r.getLong(0)) -> r.getSeq[String](1).toArray).toMap
  }

  /** After a compaction the tombstoned docs are gone for good. */
  def compacted(): Unit = {
    dropped ++= tombstones
    tombstones.clear()
  }
  private val dropped = mutable.HashSet.empty[Long]

  /** (doc_id, text) of every committed doc not removed by a compaction:
    * tombstoned docs are included because the engine's statistics keep
    * counting them until a compaction.
    */
  def docs(spark: SparkSession): DataFrame = {
    val gone = dropped.toSeq
    segments.map { s =>
      val frame = pages(spark, s, math.max(1, math.min(8, (s.count / 500).toInt)))
      val gen = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long")
      PagesPipeline.extracted(frame).select(
        ((gen - lit(s.firstGen)).divide(lit(Stride)).cast("long") + lit(s.firstDoc))
          .as("doc_id"),
        col("text"))
    }.reduce(_ unionByName _)
      .filter(if (gone.isEmpty) lit(true) else !col("doc_id").isin(gone: _*))
  }
}

/** The exhaustive reference the engine's answers are checked against. */
object Oracle {
  // BM25 parameters of the reference (rank_bm25 Okapi defaults, which are
  // also the engine's defaults)
  val K1 = 1.2
  val B = 0.75
  val Epsilon = 0.25

  val Stopwords: Array[String] = Array("the", "of", "and", "to", "in", "is")
  private val AllStopwords = Set("the", "of", "and", "to", "in", "is", "it",
    "for", "that", "on", "as", "with")
  def isStopword(t: String): Boolean = AllStopwords.contains(t)

  /** A tokenized view of a corpus, pinned for the checks that scan it. */
  final class Tokenized(val tok: DataFrame) {
    def termsOf(ids: Seq[Long]): Seq[Array[String]] =
      tok.filter(col("doc_id").isin(ids: _*)).collect().map(_.getSeq[String](1).toArray).toSeq
    def release(): Unit = tok.unpersist(false)
  }

  def tokenize(docs: DataFrame): Tokenized =
    new Tokenized(InvertedIndex.tokenize(docs, "doc_id", "text")
      .persist(StorageLevel.MEMORY_AND_DISK))

  /** Exhaustive BM25 top-k per query: postings, lengths and df from the
    * exhaustive [[InvertedIndex]] path over every doc of `corpus`, query
    * terms from [[Bm25Query.queryTerms]]. Each score is accumulated on the
    * driver per query-token occurrence in query order — the summation
    * order the engine documents — because a Spark `sum` adds in
    * partition order and would not reproduce score bits. Docs in
    * `hidden` are ranked out (tombstones: counted in the statistics,
    * never returned).
    */
  def bm25TopK(spark: SparkSession, corpus: Tokenized,
               queries: Seq[(Long, Seq[String])], k: Int,
               hidden: collection.Set[Long]): Map[Long, Seq[(Long, Double)]] = {
    import spark.implicits._
    val post = InvertedIndex.postings(corpus.tok).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dls = InvertedIndex.docLens(corpus.tok)
      val st = InvertedIndex.corpusStats(dls).first()
      val n = st.getLong(0)
      val avgdl = st.getDouble(1)
      val dfTable = InvertedIndex.docFreq(post)
      val floor = Epsilon * InvertedIndex.avgRawIdf(dfTable, n)
      val terms = Bm25Query.queryTerms(
        queries.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("query_id", "text"))
        .select(col("term")).distinct()
      val rows = post.join(broadcast(terms), "term")
        .join(dls, "doc_id").join(dfTable, "term")
        .select(col("term"), col("doc_id"), col("tf"), col("dl"), col("df"))
        .as[(String, Long, Long, Long, Long)].collect()
      val byTerm = rows.groupBy(_._1)
      def idf(df: Long): Double = {
        val raw = math.log(n - df + 0.5) - math.log(df + 0.5)
        if (raw < 0) floor else raw
      }
      queries.map { case (qid, toks) =>
        val byDoc = toks.distinct.map(t => t ->
          byTerm.getOrElse(t, Array.empty).map(r => r._2 -> r).toMap).toMap
        val candidates = byDoc.values.flatMap(_.keys).toSeq.distinct
        val ranked = candidates.filterNot(hidden.contains).map { doc =>
          var s = 0.0
          toks.foreach { t =>
            byDoc(t).get(doc).foreach { case (_, _, tf, dl, df) =>
              s += idf(df) * tf * (K1 + 1.0) / (tf + K1 * (1.0 - B + B * dl / avgdl))
            }
          }
          doc -> s
        }.sortBy { case (d, s) => (-s, d) }.take(k)
        qid -> ranked
      }.toMap
    } finally post.unpersist(false)
  }

  /** Exact-phrase top-k by the corpus-rescan path ([[graft.query.Phrase.topK]]). */
  def phraseTopK(corpus: Tokenized, phrase: Seq[String], k: Int): Seq[(Long, Double)] =
    graft.query.Phrase.topK(corpus.tok, corpus.tok, phrase, k)
      .orderBy(col("rank")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("phrase_tf").toDouble).toSeq

  /** Mismatch description, or None when doc ids and score bits agree. */
  def compare(label: String, want: Seq[(Long, Double)],
              got: Seq[(Long, Double)]): Option[String] = {
    def bits(xs: Seq[(Long, Double)]) =
      xs.map { case (d, s) => (d, java.lang.Double.doubleToRawLongBits(s)) }
    if (bits(want) == bits(got)) None
    else Some(s"$label: engine ${got.take(4).mkString(",")} vs reference " +
      s"${want.take(4).mkString(",")} (${got.size} vs ${want.size} hits)")
  }
}
