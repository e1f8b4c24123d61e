package graft

import graft.functions.TextFunctions
import graft.query.{Bm25WandRetriever, CosineRetriever, EnsembleRetriever}
import org.apache.spark.sql.functions._

/** Every call of a query frame's nondeterministic row filter, and the ids
  * it kept: one call per row means the frame ran once.
  */
object QueryFrameRuns {
  val calls = new java.util.concurrent.atomic.AtomicInteger
  val kept = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  private val rnd = new scala.util.Random(5)
  def keep(id: Long): Boolean = {
    calls.incrementAndGet()
    val k = synchronized(rnd.nextInt(3)) != 0
    if (k) kept.add(id)
    k
  }
}

/** Retriever trait surface + MaxSim/pooling semantics. */
class RetrieverSpec extends SparkSpec {
  import spark.implicits._

  test("maxSim: hand-computed late-interaction score") {
    val df = Seq((
      Seq(Seq(1.0, 0.0), Seq(0.0, 1.0)),           // q: 2 tokens
      Seq(Seq(2.0, 0.0), Seq(0.0, 3.0), Seq(1.0, 1.0)) // d: 3 tokens
    )).toDF("q", "d")
    // per q token max dot: q1 -> max(2,0,1)=2 ; q2 -> max(0,3,1)=3 ; mean=2.5
    val got = df.select(TextFunctions.maxSim(col("q"), col("d"))).as[Double].head()
    assert(got == 2.5)
  }

  test("pooling family on token vectors") {
    val df = Seq((Seq(Seq(1.0, 2.0), Seq(3.0, 4.0), Seq(5.0, 6.0)))).toDF("t")
    val r = df.select(
      TextFunctions.poolMean(col("t")).as("m"),
      TextFunctions.poolCls(col("t")).as("c"),
      TextFunctions.poolLast(col("t")).as("l"),
      TextFunctions.poolSum(col("t")).as("s"),
      TextFunctions.poolGem(col("t"), p = 2.0).as("g"),
      TextFunctions.poolWeightedLayer(col("t"), Seq(1.0, 2.0, 1.0)).as("w"),
      TextFunctions.poolFm(col("t")).as("f")).head()
    assert(r.getSeq[Double](0) == Seq(3.0, 4.0))
    assert(r.getSeq[Double](1) == Seq(1.0, 2.0))
    assert(r.getSeq[Double](2) == Seq(5.0, 6.0))
    assert(r.getSeq[Double](3) == Seq(9.0, 12.0))
    // GeM p=2: sqrt(mean(x^2)) = sqrt((1+9+25)/3), sqrt((4+16+36)/3)
    val g = r.getSeq[Double](4)
    assert(math.abs(g(0) - math.sqrt(35.0 / 3)) < 1e-12)
    assert(math.abs(g(1) - math.sqrt(56.0 / 3)) < 1e-12)
    // weighted layers (1,2,1)/4: (1+6+5)/4=3, (2+8+6)/4=4
    assert(r.getSeq[Double](5) == Seq(3.0, 4.0))
    // FM: 0.5*((1+3+5)^2-(1+9+25)) = 23, 0.5*((2+4+6)^2-(4+16+36)) = 44
    assert(r.getSeq[Double](6) == Seq(23.0, 44.0))
  }

  test("wide-vocabulary batch (semi-join term path) equals split batches") {
    // >512 distinct terms flips the postings restriction from IN-pushdown
    // to a broadcast semi-join; results must be identical either way
    val dir = scratchDir("widebatch")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 6, groups = 2)
    val rnd = new scala.util.Random(11)
    val batch = (0 until 300).map { qi =>
      qi.toLong -> (0 until 3).map(_ => s"w${rnd.nextInt(4000)}").mkString(" ")
    } // ~900 distinct terms -> semi-join path in one call
    val whole = graft.query.Wand.search(spark, dir, batch, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val halves = (graft.query.Wand.search(spark, dir, batch.take(150), 5).collect() ++
      graft.query.Wand.search(spark, dir, batch.drop(150), 5).collect())
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(whole == halves)
    assert(whole.nonEmpty)
  }

  test("Dataset-typed query batch equals the Seq path") {
    val dir = scratchDir("dsq")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 6, groups = 2)
    val batch = Bench.queryBatch(40)
    val seqHits = graft.query.Wand.search(spark, dir, batch, 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val dsHits = graft.query.Wand.searchDs(spark, dir,
      batch.toDF("query_id", "text"), 10, chunkSize = 7) // force multi-chunk
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(dsHits == seqHits)
    assert(seqHits.nonEmpty)
  }

  test("FuzzyRetriever == fuzzySearch; typo'd ensemble recovers exact docs") {
    val docs = Seq(
      (0L, "spark table fast"), (1L, "table scan here"),
      (2L, "scan the spark"), (3L, "nothing relevant")).toDF("doc_id", "text")
    val tok = graft.index.InvertedIndex.tokenize(docs, "doc_id", "text")
    val dir = scratchDir("fzr")
    graft.index.PackedIndex.build(tok, dir, shardBits = 7, groups = 1,
      p = graft.core.Bm25Params())
    val didx = graft.query.SpellCorrect.deletionIndex(
      graft.query.SpellCorrect.dictionary(tok))
    val queries = Seq(9L -> "tble scan")
    val viaRetriever = new graft.query.FuzzyRetriever(dir, didx)
      .search(spark, queries, 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val direct = graft.query.SpellCorrect.fuzzySearch(
      spark, dir, queries, 10, didx).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(viaRetriever == direct && viaRetriever.nonEmpty)
    // 'tble' expands to 'table': docs holding table or scan all retrieved
    assert(viaRetriever.map(_._2) == Set(0L, 1L, 2L))
  }

  test("NearMode.parse dedupes repeated tokens instead of failing the batch") {
    val q = graft.query.PositionalMode.NearMode(slop = 4).parse("big big data")
    assert(q == graft.query.PositionalQuery.NearMatch(Seq("big", "data"), 4))
  }

  test("filtered Dataset batch equals the filtered Seq path (staged chunks)") {
    val dir = scratchDir("dsqf")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 6, groups = 2)
    val batch = Bench.queryBatch(40)
    val allowed = Some((0L until 300L).filter(_ % 2 == 0).toArray)
    val seqHits = graft.query.Wand.search(spark, dir, batch, 10, allowed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val dsHits = graft.query.Wand.searchDs(spark, dir,
      batch.toDF("query_id", "text"), 10, chunkSize = 7, // force multi-chunk
      allowedDocs = allowed)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(dsHits == seqHits)
    assert(seqHits.nonEmpty)
    assert(seqHits.forall(_._2 % 2 == 0), "odd doc leaked past the filter")
  }

  private def hitSet(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  test("searchDs: a smaller batch after a larger one returns only its own hits") {
    val dir = scratchDir("dsq-stale")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 6, groups = 2)
    val big = Bench.queryBatch(40)
    graft.query.Wand.searchDs(spark, dir, big.toDF("query_id", "text"), 10,
      chunkSize = 7).count()
    // smaller second batch: nothing of the first call's six chunks may
    // surface in this call's two
    val small = big.take(14)
    val got = hitSet(graft.query.Wand.searchDs(spark, dir,
      small.toDF("query_id", "text"), 10, chunkSize = 7))
    val want = hitSet(graft.query.Wand.search(spark, dir, small, 10))
    assert(got == want, "the larger batch's hits leaked into the smaller one")
  }

  test("searchDs: duplicate query ids over several chunks equal Wand.search") {
    val dir = scratchDir("dsq-dup")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 6, groups = 2)
    // 12 ids, each carrying two or three different texts: an id's rows must
    // land in one chunk, or each chunk would rank its own share of the
    // id's hits and the batch would return more than k per id
    val texts = Bench.queryBatch(30).map(_._2)
    val batch = texts.zipWithIndex.map { case (t, i) => (i % 12).toLong -> t }
    val want = hitSet(graft.query.Wand.search(spark, dir, batch, 10))
    val got = hitSet(graft.query.Wand.searchDs(spark, dir,
      batch.toDF("query_id", "text"), 10, chunkSize = 5))
    assert(got == want)
    assert(want.groupBy(_._1).values.exists(_.size == 10))
  }

  test("searchDs runs a nondeterministic query frame once and serves exactly its rows") {
    val dir = scratchDir("dsq-once")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 6, groups = 2)
    // each execution keeps a different random two thirds of the 40 rows
    QueryFrameRuns.calls.set(0)
    QueryFrameRuns.kept.clear()
    val keep = udf((id: Long) => QueryFrameRuns.keep(id)).asNondeterministic()
    val batch = Bench.queryBatch(40)
    val got = hitSet(graft.query.Wand.searchDs(spark, dir,
      batch.toDF("query_id", "text").filter(keep(col("query_id"))), 10,
      chunkSize = 7)) // force multi-chunk
    assert(QueryFrameRuns.calls.get == batch.size,
      s"the query frame's filter ran ${QueryFrameRuns.calls.get} times over ${batch.size} rows")
    val served = batch.filter { case (id, _) => QueryFrameRuns.kept.contains(id) }
    assert(served.size > 7 && served.size < batch.size, s"fixture degenerate: kept ${served.size}")
    assert(got == hitSet(graft.query.Wand.search(spark, dir, served, 10)))
    assert(got.map(_._1).subsetOf(served.map(_._1).toSet))
  }

  test("minimum_should_match plumbs through searchDs and the retriever") {
    val dir = scratchDir("dsq-msm")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 300, 4).toDF(), dir, shardBits = 6, groups = 2)
    val batch = Bench.queryBatch(40)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val seqHits = rows(graft.query.Wand.search(spark, dir, batch, 10,
      minShouldMatch = 2))
    val dsHits = rows(graft.query.Wand.searchDs(spark, dir,
      batch.toDF("query_id", "text"), 10, chunkSize = 7, minShouldMatch = 2))
    assert(dsHits == seqHits)
    assert(seqHits.nonEmpty)
    val plain = rows(graft.query.Wand.search(spark, dir, batch, 10))
    assert(seqHits != plain, "fixture degenerate: msm=2 changed nothing")
    val retr = new graft.query.Bm25WandRetriever(dir, minShouldMatch = 2)
    assert(rows(retr.search(spark, batch, 10)) == seqHits)
  }

  test("df cache: one load per index version; append invalidates it") {
    def tokDf(rows: (Long, String)*) = graft.index.InvertedIndex.tokenize(
      rows.toDF("doc_id", "text"), "doc_id", "text")
    val dir = scratchDir("dfcache")
    graft.index.PackedIndex.build(
      tokDf(0L -> "alpha beta gamma", 1L -> "alpha delta", 2L -> "beta beta",
        3L -> "pad0 pad1", 4L -> "pad2 pad3", 5L -> "pad4 pad5"),
      dir, shardBits = 2, groups = 1)
    graft.query.IndexCache.invalidateAll()
    val before = graft.query.IndexCache.loads
    def run(q: String) = graft.query.Wand.search(spark, dir, Seq(1L -> q), 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).sortBy(_._1).toSeq
    val r1 = run("alpha beta")
    val r2 = run("alpha beta")
    assert(r1 == r2 && r1.nonEmpty)
    assert(graft.query.IndexCache.loads == before + 1,
      "repeated batches must reuse one cached df map")
    // append introduces a NEW term: the version token changes, the cache
    // reloads, and the new term resolves (a stale map would return no hits)
    graft.index.PackedIndex.append(tokDf(3L -> "omega omega alpha"), dir)
    val r3 = graft.query.Wand.search(spark, dir, Seq(2L -> "omega"), 10)
      .collect().map(_.getLong(1)).toSeq
    assert(r3 == Seq(3L), s"appended-term hits: $r3")
    assert(graft.query.IndexCache.loads == before + 2)
  }

  test("df cache: an append patches the cached map with its own group, equal to a full load") {
    import graft.index.PackedIndex
    import graft.query.IndexCache
    import java.nio.file.{Files, Paths}
    val dir = scratchDir("dfpatch")
    MultiGroupIndex.build(spark, dir)
    IndexCache.invalidateAll()
    assert(IndexCache.dfMap(spark, PackedIndex.snapshot(dir)).isDefined)
    PackedIndex.append(MultiGroupIndex.tok(spark, 200, 220), dir)
    PackedIndex.delete(dir, Seq(5L, 210L))
    val snap = PackedIndex.snapshot(dir)
    // with the built group grp=0 moved away, only a patch can read the new version
    val (grp0, moved) = (Paths.get(dir, "postings", "grp=0"), Paths.get(dir, "grp0-moved"))
    Files.move(grp0, moved)
    val patched = try IndexCache.dfMap(spark, snap) finally Files.move(moved, grp0)
    IndexCache.invalidateAll()
    val full = IndexCache.dfMap(spark, snap)
    assert(patched.isDefined && patched == full)
    assert(full.get == snap.df(spark).collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
  }

  test("ensemble retriever fuses wand + cosine with RRF semantics") {
    // tiny pages index
    val dir = scratchDir("retr")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 200, 4).toDF(), dir, shardBits = 6, groups = 2)
    val wand = new Bm25WandRetriever(dir)
    val w1 = wand.search(spark, Seq(1L -> "the w3"), 5).collect()
    assert(w1.nonEmpty && w1.forall(_.getAs[Int]("rank") <= 5))

    // cosine retriever over a toy corpus with a deterministic encoder
    val corpusVecs = Seq((0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)))
      .toDF("vec_id", "vec")
    val enc = (s: String) => if (s.contains("x")) Array(1.0, 0.0) else Array(0.0, 1.0)
    val cos = new CosineRetriever(corpusVecs, enc)
    val c1 = cos.search(spark, Seq(1L -> "x marks"), 1).collect()
    assert(c1.head.getAs[Long]("doc_id") == 0L)

    // ensemble of wand with itself: rrf_score = (1.0+0.5)/(60+rank)
    val ens = new EnsembleRetriever(Seq(wand -> 1.0, wand -> 0.5))
    val fused = ens.search(spark, Seq(1L -> "the w3"), 5).collect()
      .sortBy(_.getAs[Int]("rank"))
    val single = w1.sortBy(_.getAs[Int]("rank"))
    assert(fused.map(_.getAs[Long]("doc_id")).toSeq ==
      single.map(_.getAs[Long]("doc_id")).toSeq) // same order
    val r1 = fused.head
    assert(math.abs(r1.getAs[Double]("rrf_score") - 1.5 / 61) < 1e-12)
  }

  test("positional Dataset batch (Phrase.searchDs) equals the Seq path") {
    val rnd = new scala.util.Random(43)
    val vocab = Array("a", "b", "c", "d", "e")
    val docs = (0 until 150).map { i =>
      i.toLong -> Seq.fill(1 + rnd.nextInt(25))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val t = graft.index.InvertedIndex.tokenize(
      docs.toDF("doc_id", "text"), "doc_id", "text")
    val dir = scratchDir("posds")
    graft.index.PackedIndex.build(t, dir, shardBits = 5, groups = 2)
    graft.index.PositionalIndex.build(t, dir)
    val mode = graft.query.PositionalMode.PhraseMode
    val texts = (0 until 30).map { qi =>
      qi.toLong -> (0 until 2).map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val seqHits = graft.query.Phrase.search(spark, dir,
      texts.map { case (id, s) => id -> mode.parse(s) }, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val dsHits = graft.query.Phrase.searchDs(spark, dir,
      texts.toDF("query_id", "text"), mode, 5, chunkSize = 7) // multi-chunk
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(dsHits == seqHits)
    assert(seqHits.nonEmpty)
  }

  test("WAND + positional phrase ensemble through the Retriever surface") {
    val t = graft.index.InvertedIndex.tokenize(
      Seq(
        0L -> "x table deep scan y table",
        1L -> "x table scan y",
        2L -> "scan table scan table scan",
        3L -> "table w1 w2 w3").toDF("doc_id", "text"), "doc_id", "text")
    val dir = scratchDir("ensphr")
    graft.index.PackedIndex.build(t, dir, shardBits = 2, groups = 1)
    graft.index.PositionalIndex.build(t, dir)
    val bm25 = new graft.query.RoundedRankRetriever(new Bm25WandRetriever(dir), 4)
    val phrase = new graft.query.PositionalRetriever(dir,
      graft.query.PositionalMode.PhraseMode)
    val fused = new EnsembleRetriever(Seq(bm25 -> 1.0, phrase -> 1.0))
      .search(spark, Seq(0L -> "table scan"), 10).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("rrf_score"),
        r.getAs[Int]("rank")))
    // hand-derived member ranks: phrase counts 2:'x2',1:'x1',0:'x0 (not
    // adjacent)' -> phrase list (2,1); BM25 matches docs 0,1,2,3 on terms.
    val phraseOnly = phrase.search(spark, Seq(0L -> "table scan"), 10)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toMap
    assert(phraseOnly == Map(2L -> 1, 1L -> 2))
    val bmRanks = bm25.search(spark, Seq(0L -> "table scan"), 10)
      .collect().map(r => (r.getLong(1), r.getInt(3))).toMap
    val expected = (bmRanks.keySet ++ phraseOnly.keySet).map { d =>
      d -> (bmRanks.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0) +
        phraseOnly.get(d).map(r => 1.0 / (60 + r)).getOrElse(0.0))
    }.toMap
    fused.foreach { case (d, s, _) =>
      assert(math.abs(s - expected(d)) < 1e-12, s"doc $d rrf mismatch")
    }
    val order = fused.sortBy(_._3).map(_._1).toSeq
    val wantOrder = expected.toSeq.sortBy { case (d, s) => (-s, d) }.map(_._1)
    assert(order == wantOrder.take(order.length))
  }
}
