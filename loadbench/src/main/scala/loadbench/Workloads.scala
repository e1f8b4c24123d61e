package loadbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.corpus.PagesPipeline
import graft.index.{PackedIndex, PositionalIndex}
import graft.query.{IndexCache, Phrase, PositionalMode, Wand}

/** The three workloads. Each is a closed loop with one client, with fixed
  * operation counts; the seed generates the corpus, the queries and the
  * write schedule.
  */
object Workloads {
  val Names: Seq[String] = Seq("ingest", "serve")

  val K = 10
  /** `PagesGen` vocabulary sizes: the generator's default compact vocabulary,
    * and a web-tail one so large that almost every non-stopword draw is a
    * new term.
    */
  val CompactVocab = 5000
  val WebTailVocab = 1000000000

  def run(name: String, r: Run): Unit = name match {
    case "ingest" => Ingest(r)
    case "serve" => Serve(r)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  // ---- queries -----------------------------------------------------------

  type Query = (Long, Seq[String])

  /** 2–4 terms, about 30% stopwords, the rest from `draw` (the shape of
    * `graft.Bench.queryBatch`).
    */
  def query(r: Run, id: Long, draw: () => String): Query =
    id -> Seq.fill(2 + r.rnd.nextInt(3)) {
      if (r.rnd.nextDouble() < 0.3) Oracle.Stopwords(r.rnd.nextInt(Oracle.Stopwords.length))
      else draw()
    }

  def asFrame(r: Run, qs: Seq[Query]): DataFrame = {
    import r.spark.implicits._
    qs.map { case (id, ts) => (id, ts.mkString(" ")) }.toDF("query_id", "text")
  }

  def asPairs(qs: Seq[Query]): Seq[(Long, String)] =
    qs.map { case (id, ts) => (id, ts.mkString(" ")) }

  /** Zipf(s) draw over vocabulary ranks: term `w<rank>`. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / total)
    }
    def draw(rnd: scala.util.Random): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      s"w${math.min(if (i >= 0) i else -i - 1, n - 1)}"
    }
  }

  /** Draws non-stopword tokens of random docs among `docs`. */
  def tailDraw(r: Run, docs: Iterable[Array[String]]): () => String = {
    val pool = docs.map(_.filterNot(Oracle.isStopword)).filter(_.nonEmpty).toArray
    require(pool.nonEmpty, "no tail terms to draw queries from")
    () => {
      val d = pool(r.rnd.nextInt(pool.length))
      d(r.rnd.nextInt(d.length))
    }
  }

  /** (query_id -> ranked (doc_id, score)) from a (query_id, doc_id, score, rank) result. */
  def ranked(rows: Array[Row]): Map[Long, Seq[(Long, Double)]] =
    rows.groupBy(_.getAs[Long]("query_id")).map { case (q, rs) =>
      q -> rs.sortBy(_.getAs[Int]("rank"))
        .map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("score")).toSeq
    }

  // ---- correctness gate --------------------------------------------------

  /** Check the engine's answers for `sample` against the exhaustive BM25
    * reference over `docs`, hiding `hidden` ids.
    */
  def gateBm25(r: Run, label: String, corpus: Oracle.Tokenized, sample: Seq[Query],
               engine: Map[Long, Seq[(Long, Double)]],
               hidden: collection.Set[Long]): Unit = {
    val want = Oracle.bm25TopK(r.spark, corpus, sample, K, hidden)
    val got = injectFault(r, engine)
    sample.foreach { case (qid, ts) =>
      r.check(s"$label q$qid") {
        Oracle.compare(s"$label q$qid '${ts.mkString(" ")}'", want(qid),
          got.getOrElse(qid, Nil))
      }
    }
  }

  /** With fault `wrong_rank`, swap the top two hits of the first answer
    * holding two, so the gate's own tests can see it fail.
    */
  def injectFault(r: Run, res: Map[Long, Seq[(Long, Double)]]): Map[Long, Seq[(Long, Double)]] =
    if (!r.faults.contains("wrong_rank")) res
    else res.toSeq.sortBy(_._1).find(_._2.size >= 2) match {
      case Some((q, hits)) => res.updated(q, hits(1) +: hits(0) +: hits.drop(2))
      case None => res
    }

  /** Bytes of the committed index (staged extraction excluded) per byte of
    * extracted live text.
    */
  def indexBytesPerTextByte(r: Run, dir: String, docs: DataFrame,
                            hidden: collection.Set[Long]): Double = {
    val live = if (hidden.isEmpty) docs else docs.filter(!col("doc_id").isin(hidden.toSeq: _*))
    val textBytes = live.agg(sum(octet_length(col("text")))).first().getLong(0)
    val parts = Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filterNot(_.getName.startsWith("docs_raw"))
      .map(f => f.getName -> Proc.treeBytes(f)).sortBy(_._1)
    val indexBytes = parts.map(_._2).sum
    r.diag("index_bytes") = indexBytes
    r.diag("index_bytes_by_entry") = scala.collection.immutable.ListMap(parts: _*)
    r.diag("live_text_bytes") = textBytes
    indexBytes.toDouble / textBytes
  }

  // ---- ingest --------------------------------------------------------------

  /** Two builds, append/delete rounds on the second index, two compactions
    * of it — all over web-tail pages. Builds and compactions are repeated
    * because one operation's CPU time spread 15–23% from run to run (JIT
    * bursts and host contention land on single operations).
    */
  object Ingest {
    val Builds = 2
    val BuildPages = 750L
    val AppendRounds = 3
    val AppendPages = 150L
    val DeletesPerRound = 15
    val Compactions = 2
    val GateQueries = 12

    def apply(r: Run): Unit = {
      val spark = r.spark
      warmUp(r)
      r.mark("warmup")
      val corpus = (0 until Builds).map { b =>
        val corpus = new Corpus(r.seed + 1000L * b, WebTailVocab, 0.2)
        val pages = corpus.initial(spark, BuildPages, 2 * r.cores)
        r.timed("build") {
          r.trace.span("corpus.buildIndex", BuildPages) {
            PagesPipeline.buildIndex(pages, r.path(s"index-$b"))
          }
        }
        corpus
      }.last
      val dir = r.path(s"index-${Builds - 1}")
      for (_ <- 0 until AppendRounds) {
        val (fresh, _) = corpus.nextAppend(spark, AppendPages)
        r.timed("append") {
          r.trace.span("corpus.appendPages", AppendPages) {
            PagesPipeline.appendPages(fresh, dir)
          }
        }
        val victims = corpus.pickLive(r.rnd, DeletesPerRound)
        r.timed("delete") {
          r.trace.span("index.delete", victims.size) { PackedIndex.delete(dir, victims) }
        }
        corpus.delete(victims)
      }
      val live = corpus.live
      for (c <- 0 until Compactions) r.timed("compact") {
        r.trace.span("index.compact", live) {
          PackedIndex.compact(spark, dir, r.path(s"compacted-$c"))
        }
      }
      corpus.compacted()
      val out = r.path(s"compacted-${Compactions - 1}")

      r.figures("build_docs_per_s") = Metric(r.medianRate("build", BuildPages), "1/s")
      r.figures("append_docs_per_s") = Metric(r.medianRate("append", AppendPages), "1/s")
      r.figures("compact_docs_per_s") = Metric(r.medianRate("compact", live), "1/s")
      r.figures("build_cpu_ms_per_doc") = Metric(r.cpuPerItem("build", BuildPages), "ms")
      r.figures("append_cpu_ms_per_doc") =
        Metric(r.cpuPerItem("append", AppendPages), "ms")
      r.figures("compact_cpu_ms_per_doc") = Metric(r.cpuPerItem("compact", live), "ms")

      // gate: the compacted index against the exhaustive path over the live docs
      r.mark("timed")
      val docs = corpus.docs(spark).persist()
      val tok = Oracle.tokenize(docs)
      try {
        r.figures("index_bytes_per_text_byte") =
          Metric(indexBytesPerTextByte(r, out, docs, Set.empty), "ratio")
        val draw = tailDraw(r, tok.termsOf(corpus.pickLive(r.rnd, GateQueries)))
        val sample = (0 until GateQueries).map(i => query(r, i, draw))
        val engine = ranked(Wand.search(spark, out, asPairs(sample), K).collect())
        gateBm25(r, "ingest", tok, sample, engine, Set.empty)
      } finally { tok.release(); docs.unpersist(false) }
      r.mark("gate")
    }

    /** The same operation sequence on a small corpus of its own, discarded. */
    private def warmUp(r: Run): Unit = {
      val corpus = new Corpus(r.seed + 1, WebTailVocab, 0.2)
      val dir = r.path("warmup")
      r.trace.span("corpus.buildIndex", 200) {
        PagesPipeline.buildIndex(corpus.initial(r.spark, 200, r.cores), dir)
      }
      val (fresh, _) = corpus.nextAppend(r.spark, 20)
      r.trace.span("corpus.appendPages", 20) { PagesPipeline.appendPages(fresh, dir) }
      r.trace.span("index.delete", 5) { PackedIndex.delete(dir, corpus.pickLive(r.rnd, 5)) }
      r.trace.span("index.compact", corpus.live) {
        PackedIndex.compact(r.spark, dir, r.path("warmup-compacted"))
      }
    }
  }

  // ---- serve ----------------------------------------------------------------

  /** Serving over a prebuilt compact-vocabulary index with a positional arm:
    * phrase batches through `Phrase.searchDs`, then one client alternating
    * small `Wand.search` batches with crawl-refresh writes, then large
    * Zipf-skewed BM25 batches through `Wand.searchDs` over the refreshed
    * index. Phrases run first because appends do not extend the positional
    * arm.
    */
  object Serve {
    val Pages = 1000L
    val PhraseRounds = 3
    val PhraseQueries = 300
    val Cycles = 2
    val ReadsPerWrite = 3
    val ReadQueries = 4
    val RefreshPages = 2
    val BulkRounds = 3
    val BulkQueries = 1000
    /** Two chunks per bulk batch. */
    val ChunkSize = 500
    val GateBulk = 12
    val GateReads = 6
    val GatePhrases = 6

    def apply(r: Run): Unit = {
      val spark = r.spark
      val corpus = new Corpus(r.seed, CompactVocab, 0.2)
      val dir = r.path("index")
      val pages = corpus.initial(spark, Pages, 2 * r.cores)
      r.trace.span("corpus.buildIndex", Pages) { PagesPipeline.buildIndex(pages, dir) }
      PositionalIndex.build(PagesPipeline.tokenized(PagesPipeline.docs(pages)), dir)
      val terms = PackedIndex.loadDf(spark, dir).count()
      r.diag("distinct_terms") = terms
      r.check("vocabulary fits the df cache") {
        if (terms <= IndexCache.MaxCachedTerms) None
        else Some(s"index has $terms terms, above the df cache cap ${IndexCache.MaxCachedTerms}")
      }
      r.mark("build")

      // query material: Zipf over the vocabulary for bulk batches; terms and
      // 2–3 token phrases of random docs for reads and phrase batches
      val zipf = new Zipf(CompactVocab, 1.0)
      val sampled = corpus.termsOf(spark, corpus.pickLive(r.rnd, 200)).values.toSeq
      val readDraw = tailDraw(r, sampled)
      val phraseDocs = sampled.filter(_.length >= 3).toArray
      var nextId = 0L
      def fresh(): Long = { nextId += 1; nextId }
      def bulkBatch(n: Int): Seq[Query] =
        Seq.fill(n)(query(r, fresh(), () => zipf.draw(r.rnd)))
      def phraseBatch(n: Int): Seq[Query] = Seq.fill(n) {
        val d = phraseDocs(r.rnd.nextInt(phraseDocs.length))
        val len = 2 + r.rnd.nextInt(2)
        val at = r.rnd.nextInt(d.length - len + 1)
        fresh() -> d.slice(at, at + len).toSeq
      }
      def readBatch(): Seq[Query] = Seq.fill(ReadQueries)(query(r, fresh(), readDraw))

      def bulk(qs: Seq[Query], chunk: Int): Array[Row] =
        r.trace.span("query.searchDs", qs.size) {
          Wand.searchDs(spark, dir, asFrame(r, qs), K, chunkSize = chunk).collect()
        }
      def phrase(qs: Seq[Query]): Array[Row] =
        r.trace.span("query.phraseSearchDs", qs.size) {
          Phrase.searchDs(spark, dir, asFrame(r, qs), PositionalMode.PhraseMode, K).collect()
        }
      def read(qs: Seq[Query]): Array[Row] =
        r.trace.span("query.search", qs.size) {
          Wand.search(spark, dir, asPairs(qs), K).collect()
        }
      /** One crawl refresh: new versions of random pages are appended, then
        * the ids they replace are deleted.
        */
      def write(): Seq[Long] = {
        val victims = corpus.pickLive(r.rnd, RefreshPages)
        val (pages, ids) = corpus.nextAppend(spark, RefreshPages)
        r.trace.span("corpus.appendPages", RefreshPages) {
          PagesPipeline.appendPages(pages, dir)
        }
        r.trace.span("index.delete", victims.size) { PackedIndex.delete(dir, victims) }
        corpus.delete(victims)
        ids
      }
      /** Every timed write's first appended page (unless a later write
        * replaced it) is found by three of its own terms, and no deleted id
        * comes back. Reads are checked for deleted ids as they run.
        */
      def checkWrites(appended: Seq[Long]): Unit = {
        val alive = appended.filterNot(corpus.tombstones.contains)
        val probes = corpus.termsOf(spark, alive).map { case (doc, terms) =>
          doc -> r.rnd.shuffle(terms.filterNot(Oracle.isStopword).distinct.toSeq).take(3)
        }.toSeq
        val hits = ranked(Wand.search(spark, dir, asPairs(probes), K).collect())
        probes.foreach { case (doc, terms) =>
          r.check(s"appended doc $doc retrievable") {
            if (hits.getOrElse(doc, Nil).exists(_._1 == doc)) None
            else Some(s"appended doc $doc not found by '${terms.mkString(" ")}'")
          }
        }
        r.check("deleted docs hidden") {
          hits.values.flatten.find(h => corpus.tombstones.contains(h._1))
            .map(h => s"deleted doc ${h._1} returned")
        }
      }
      val answers = scala.collection.mutable.HashMap.empty[Long, Seq[(Long, Double)]]
      def record(qs: Seq[Query], rows: Array[Row]): Seq[Query] = {
        val res = ranked(rows)
        qs.foreach(q => answers(q._1) = res.getOrElse(q._1, Nil))
        qs
      }

      // warm-up, discarded: a phrase batch and a read here, a bulk batch
      // before its own phase
      phrase(phraseBatch(PhraseQueries / 2))
      read(readBatch())
      r.mark("warmup")

      val phrases = (0 until PhraseRounds).flatMap { _ =>
        val qs = phraseBatch(PhraseQueries)
        r.timed("phrase")(phrase(qs)).map(record(qs, _)).getOrElse(Nil)
      }
      val afterWrite = scala.collection.mutable.ArrayBuffer.empty[Double]
      val otherReads = scala.collection.mutable.ArrayBuffer.empty[Double]
      var lastReads = Seq.empty[Query]
      val appended = scala.collection.mutable.ArrayBuffer.empty[Long]
      for (c <- 0 until Cycles) {
        r.timed("write")(write()).foreach(appended += _.head)
        lastReads = Nil
        for (j <- 0 until ReadsPerWrite) {
          val qs = readBatch()
          r.timed("read")(read(qs)).foreach { rows =>
            (if (j == 0) afterWrite else otherReads) += r.lat("read").last
            lastReads ++= record(qs, rows)
            r.check(s"read c$c.$j hides deleted docs") {
              rows.map(_.getAs[Long]("doc_id")).find(corpus.tombstones.contains)
                .map(d => s"read returned deleted doc $d")
            }
          }
        }
      }
      checkWrites(appended.toSeq)
      bulk(bulkBatch(BulkQueries), ChunkSize)
      val bulks = (0 until BulkRounds).flatMap { _ =>
        val qs = bulkBatch(BulkQueries)
        r.timed("bulk")(bulk(qs, ChunkSize)).map(record(qs, _)).getOrElse(Nil)
      }
      r.mark("timed")

      val readMs = r.lat("read")
      r.figures("bulk_qps") = Metric(r.medianRate("bulk", BulkQueries), "1/s")
      r.figures("phrase_qps") = Metric(r.medianRate("phrase", PhraseQueries), "1/s")
      r.figures("read_qps") = Metric(r.medianRate("read", ReadQueries), "1/s")
      r.figures("bulk_cpu_ms_per_query") =
        Metric(r.cpuPerItem("bulk", BulkQueries), "ms")
      r.figures("phrase_cpu_ms_per_query") =
        Metric(r.cpuPerItem("phrase", PhraseQueries), "ms")
      r.figures("read_cpu_ms_per_query") =
        Metric(r.cpuPerItem("read", ReadQueries), "ms")
      r.figures("read_p50_ms") = Metric(Stats.median(readMs), "ms")
      r.figures("read_p90_ms") = Metric(Stats.percentile(readMs, 90), "ms")
      r.figures("write_p50_ms") = Metric(Stats.median(r.lat("write")), "ms")
      r.diag("reads") = readMs.size
      r.diag("writes") = r.lat("write").size
      r.diag("read_ms_first_after_write") = afterWrite.toSeq
      r.diag("read_ms_other") = otherReads.toSeq

      // gate: bulk batches and the last cycle's reads ran on the final
      // index; phrases ran on the initial corpus (docs below `Pages`)
      val docs = corpus.docs(spark).persist()
      val tok = Oracle.tokenize(docs)
      try {
        r.figures("index_bytes_per_text_byte") =
          Metric(indexBytesPerTextByte(r, dir, docs, corpus.tombstones), "ratio")
        val sample = r.rnd.shuffle(bulks).take(GateBulk) ++
          r.rnd.shuffle(lastReads).take(GateReads)
        gateBm25(r, "serve", tok, sample, answers.toMap, corpus.tombstones)
        val initial = new Oracle.Tokenized(tok.tok.filter(col("doc_id") < Pages))
        val got = injectFault(r, answers.toMap)
        r.rnd.shuffle(phrases).take(GatePhrases).foreach { case (qid, ts) =>
          r.check(s"phrase q$qid") {
            Oracle.compare(s"phrase q$qid '${ts.mkString(" ")}'",
              Oracle.phraseTopK(initial, ts, K), got.getOrElse(qid, Nil))
          }
        }
      } finally { tok.release(); docs.unpersist(false) }
      r.mark("gate")
    }
  }
}
