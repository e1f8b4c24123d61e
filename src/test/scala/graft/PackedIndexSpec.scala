package graft

import graft.core.{Bm25, Bm25Params}
import graft.index.{Codec, DocIds, InvertedIndex, PackedIndex}
import graft.query.Wand
import java.nio.file.Files

/** Packed-postings codec round-trip + WAND == exhaustive-oracle rank parity
  * (FIXTURES.md §5). Property-style tests use seeded random generation (the
  * offline cache lacks the scalatest-scalacheck bridge).
  */
class PackedIndexSpec extends SparkSpec {
  import spark.implicits._

  private val P = Bm25Params()

  // ---- codec -----------------------------------------------------------

  test("codec round-trip: pack then unpack is identity (property)") {
    val rnd = new scala.util.Random(1234)
    for (_ <- 0 until 200) {
      val n = 1 + rnd.nextInt(400)
      val start = math.abs(rnd.nextLong()) % (1L << 40)
      val docs = new Array[Long](n)
      var acc = start
      for (i <- 0 until n) { acc += 1 + rnd.nextInt(1000); docs(i) = acc }
      val tfs = Array.fill(n)(1L + rnd.nextInt(50))
      val dls = Array.fill(n)(1L + rnd.nextInt(500))
      val blocks = Codec.pack(docs, tfs, dls, blockSize = 64)
      val gotDocs = blocks.flatMap(_.decodeDocIds).toArray
      val gotTfs = blocks.flatMap(_.decodeTfs).toArray
      val gotDls = blocks.flatMap(_.decodeDls).toArray
      assert(gotDocs.sameElements(docs))
      assert(gotTfs.sameElements(tfs))
      assert(gotDls.sameElements(dls))
      // block invariants: maxDoc is last docId; maxTf/minDl bound the block
      blocks.foreach { b =>
        val ds = b.decodeDocIds; val ts = b.decodeTfs; val ls = b.decodeDls
        assert(b.maxDocId == ds.last)
        assert(b.maxTf == ts.max)
        assert(b.minDl == ls.min)
      }
    }
  }

  test("deriveShardBits bounds shard count at any corpus size") {
    import PackedIndex.{deriveShardBits, MinShardBits, TargetMaxShards}
    assert(deriveShardBits(0L) == MinShardBits)
    assert(deriveShardBits(1000L) == MinShardBits)           // tiny corpus
    assert(deriveShardBits(2000000L) == MinShardBits)        // 2M: 245 shards
    for (n <- Seq(1L, 60000L, 2000000L, 100000000L, 10000000000L, 1L << 50)) {
      val bits = deriveShardBits(n)
      val numShards = ((n - 1) >> bits) + 1
      assert(numShards <= TargetMaxShards, s"n=$n bits=$bits shards=$numShards")
      assert(bits >= MinShardBits)
      // smallest such width: one bit narrower must overflow (unless floored)
      if (bits > MinShardBits)
        assert(((n - 1) >> (bits - 1)) + 1 > TargetMaxShards, s"n=$n bits=$bits")
    }
  }

  test("auto shardBits build == pinned build of the derived width") {
    val rnd = new scala.util.Random(41)
    val docs = (0 until 120).map { i =>
      i.toLong -> Seq.fill(3 + rnd.nextInt(10))(s"w${rnd.nextInt(40)}").mkString(" ")
    }
    def tok(rows: Seq[(Long, String)]) = InvertedIndex.tokenize(
      rows.toDF("doc_id", "text"), "doc_id", "text")
    val autoDir = scratchDir("autobits")
    PackedIndex.build(tok(docs), autoDir, groups = 2) // shardBits defaulted
    val stats = PackedIndex.snapshot(autoDir).stats
    assert(stats.shardBits == PackedIndex.deriveShardBits(120L))
    val pinDir = scratchDir("pinbits")
    PackedIndex.build(tok(docs), pinDir, shardBits = stats.shardBits, groups = 2)
    graft.query.IndexCache.invalidateAll()
    val batch = Seq(0L -> "w1 w2 w3")
    def rows(dir: String) = Wand.search(spark, dir, batch, 20).collect()
      .map(r => (r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(rows(autoDir) == rows(pinDir) && rows(autoDir).nonEmpty)
  }

  test("varint encodes full Long range boundaries") {
    val vals = Seq(0L, 1L, 127L, 128L, 16383L, 16384L, Int.MaxValue.toLong,
      (1L << 62) - 1, Long.MaxValue)
    val out = new java.io.ByteArrayOutputStream()
    vals.foreach(Codec.writeVarLong(out, _))
    assert(Codec.readVarLongs(out.toByteArray, vals.length).toSeq == vals)
  }

  // ---- shared corpus for index tests ----------------------------------

  private def randomCorpus(nDocs: Int, vocab: Int, seed: Int,
                           zipf: Double = 2.0): IndexedSeq[Array[String]] = {
    val rnd = new scala.util.Random(seed)
    IndexedSeq.tabulate(nDocs) { _ =>
      val len = 1 + rnd.nextInt(60)
      Array.fill(len) {
        val i = math.min((math.pow(rnd.nextDouble(), zipf) * vocab).toInt, vocab - 1)
        s"t$i"
      }
    }
  }

  private def buildIndex(docs: IndexedSeq[Array[String]], dir: String,
                         shardBits: Int, groups: Int): Unit = {
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val tok = InvertedIndex.tokenize(df, "doc_id", "text")
    PackedIndex.build(tok, dir, shardBits = shardBits, groups = groups, p = P)
  }

  test("WAND top-k is rank- and score-identical to the exhaustive oracle") {
    val docs = randomCorpus(nDocs = 1000, vocab = 200, seed = 7)
    val oracle = new Bm25.Oracle(docs, P)
    val dir = scratchDir("idx")
    buildIndex(docs, dir, shardBits = 8, groups = 3) // 4 shards, 3 groups

    val queries: Seq[(Long, String)] = Seq(
      1L -> "t0 t1",                       // two hot terms
      2L -> "t150 t180 t199",              // rare terms
      3L -> "t0 t0 t42",                   // repeated term
      4L -> "t5 absent_term t9",           // with absent term
      5L -> "t0 t1 t2 t3 t4 t5 t6",        // many terms
      6L -> "absent_only",                 // nothing matches
      7L -> "t199")                        // possibly tiny df
    val k = 10
    val got = Wand.search(spark, dir, queries, k).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap

    queries.foreach { case (qid, text) =>
      val want = oracle.topK(text.split(" ").toSeq, k).filter(_._2 != 0.0)
      val g = got.getOrElse(qid, Seq.empty)
      assert(g.map(_._1) == want.map(_._1), s"rank order mismatch for q$qid: got=$g want=$want")
      g.zip(want).foreach { case ((gd, gs), (wd, ws)) =>
        assert(gd == wd)
        assert(gs == ws, s"score not bit-identical for q$qid doc $gd: $gs vs $ws")
      }
    }
  }

  test("filtered WAND == exhaustive oracle restricted to the allowlist") {
    val docs = randomCorpus(nDocs = 800, vocab = 150, seed = 11)
    val oracle = new Bm25.Oracle(docs, P)
    val dir = scratchDir("idx-filt")
    buildIndex(docs, dir, shardBits = 8, groups = 2)

    val queries: Seq[(Long, String)] = Seq(
      1L -> "t0 t1", 2L -> "t100 t140", 3L -> "t0 t0 t42 t7")
    val k = 10
    // allowlist: every third doc — selective but non-trivial
    val allowed = (0L until 800L).filter(_ % 3 == 0).toArray

    val got = Wand.search(spark, dir, queries, k, Some(allowed)).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap

    val allowedSet = allowed.toSet
    queries.foreach { case (qid, text) =>
      // oracle: full ranking, then restrict candidates (stats stay global)
      val want = oracle.topK(text.split(" ").toSeq, 0).filter(_._2 != 0.0)
        .filter(h => allowedSet.contains(h._1)).take(k)
      val g = got.getOrElse(qid, Seq.empty)
      assert(g.map(_._1) == want.map(_._1),
        s"filtered rank order mismatch for q$qid: got=$g want=$want")
      g.zip(want).foreach { case ((gd, gs), (wd, ws)) =>
        assert(gd == wd && gs == ws,
          s"filtered score not bit-identical for q$qid doc $gd: $gs vs $ws")
      }
      g.foreach { case (d, _) =>
        assert(allowedSet.contains(d), s"doc $d leaked past the filter")
      }
    }

    // very sparse allowlist (5 of 800): stresses the allowlist-advance jump
    val sparse = Array(3L, 97L, 402L, 555L, 799L)
    val gotSparse = Wand.search(spark, dir, queries, k, Some(sparse)).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap
    val sparseSet = sparse.toSet
    queries.foreach { case (qid, text) =>
      val want = oracle.topK(text.split(" ").toSeq, 0).filter(_._2 != 0.0)
        .filter(h => sparseSet.contains(h._1)).take(k)
      assert(gotSparse.getOrElse(qid, Seq.empty) == want,
        s"sparse-filter mismatch for q$qid")
    }

    // empty allowlist -> no hits; full allowlist == unfiltered
    assert(Wand.search(spark, dir, queries, k, Some(Array.empty[Long])).count() == 0)
    val full = Wand.search(spark, dir, queries, k,
      Some((0L until 800L).toArray)).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).sorted.toSeq
    val unfiltered = Wand.search(spark, dir, queries, k).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"), r.getAs[Int]("rank"))).sorted.toSeq
    assert(full == unfiltered, "all-docs allowlist must equal unfiltered run")
  }

  test("minimum_should_match == exhaustive oracle filtered by distinct-match count") {
    val docs = randomCorpus(nDocs = 700, vocab = 150, seed = 71)
    val oracle = new Bm25.Oracle(docs, P)
    val dir = scratchDir("msm")
    buildIndex(docs, dir, shardBits = 7, groups = 2)
    val queries: Seq[(Long, String)] = Seq(
      1L -> "t0 t1 t5 t20", 2L -> "t100 t140 t7", 3L -> "t0 t0 t42")
    val k = 10
    for (mm <- 1 to 4) {
      val got = Wand.search(spark, dir, queries, k, minShouldMatch = mm)
        .collect().groupBy(_.getAs[Long]("query_id"))
        .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
          .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap
      queries.foreach { case (qid, text) =>
        val qTerms = text.split(" ").distinct
        def matched(docId: Long): Int =
          qTerms.count(t => docs(docId.toInt).contains(t))
        val want = oracle.topK(text.split(" ").toSeq, 0).filter(_._2 != 0.0)
          .filter { case (d, _) => matched(d) >= mm }.take(k)
        assert(got.getOrElse(qid, Seq.empty) == want,
          s"msm=$mm mismatch for q$qid")
      }
    }
    // mm above the query's distinct term count: provably empty
    assert(Wand.search(spark, dir, queries, k, minShouldMatch = 5).count() == 0)
    // mm composes with the allowlist (both restrict candidates only)
    val allowed = (0L until 700L).filter(_ % 2 == 0).toArray
    val both = Wand.search(spark, dir, queries, k, Some(allowed),
      minShouldMatch = 2).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).toSet
    queries.foreach { case (qid, text) =>
      val qTerms = text.split(" ").distinct
      val want = oracle.topK(text.split(" ").toSeq, 0).filter(_._2 != 0.0)
        .filter { case (d, _) =>
          d % 2 == 0 && qTerms.count(t => docs(d.toInt).contains(t)) >= 2 }
        .take(k).map { case (d, s) => (qid, d, s) }.toSet
      assert(both.filter(_._1 == qid) == want, s"msm+allowlist broke for q$qid")
    }
  }

  test("must_not == exhaustive oracle minus docs holding any excluded term") {
    val docs = randomCorpus(nDocs = 700, vocab = 150, seed = 101)
    val oracle = new Bm25.Oracle(docs, P)
    val dir = scratchDir("mn")
    buildIndex(docs, dir, shardBits = 7, groups = 2)
    val queries: Seq[(Long, String)] = Seq(
      1L -> "t0 t1 t5 t20", 2L -> "t100 t140 t7", 3L -> "t0 t0 t42")
    val k = 10
    // per-query exclusions: a hot term, a pair, an absent term (no-op),
    // and (query 3) a term that is ALSO a positive term — bool(must=t,
    // must_not=t) bars every doc containing t, the ES semantics.
    val mn = Map(1L -> "t2", 2L -> "t0 t1 zz_absent", 3L -> "t42")
    val got = Wand.search(spark, dir, queries, k, mustNot = mn)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap
    queries.foreach { case (qid, text) =>
      val exclTerms = mn(qid).split(" ")
      val want = oracle.topK(text.split(" ").toSeq, 0).filter(_._2 != 0.0)
        .filterNot { case (d, _) => exclTerms.exists(docs(d.toInt).contains) }
        .take(k)
      assert(got.getOrElse(qid, Seq.empty) == want, s"must_not broke q$qid")
      // and the exclusion genuinely changed something for the hot-term cases
      if (qid != 3L)
        assert(got(qid) != oracle.topK(text.split(" ").toSeq, k).filter(_._2 != 0.0))
    }
    // composes with allowlist + msm (all three restrict candidates only)
    val allowed = (0L until 700L).filter(_ % 2 == 0).toArray
    val both = Wand.search(spark, dir, queries, k, Some(allowed),
      minShouldMatch = 2, mustNot = mn).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id"),
        r.getAs[Double]("score"))).toSet
    queries.foreach { case (qid, text) =>
      val qTerms = text.split(" ").distinct
      val exclTerms = mn(qid).split(" ")
      val want = oracle.topK(text.split(" ").toSeq, 0).filter(_._2 != 0.0)
        .filter { case (d, _) =>
          d % 2 == 0 && qTerms.count(t => docs(d.toInt).contains(t)) >= 2 &&
            !exclTerms.exists(docs(d.toInt).contains) }
        .take(k).map { case (d, s) => (qid, d, s) }.toSet
      assert(both.filter(_._1 == qid) == want, s"must_not+allow+msm broke q$qid")
    }
  }

  test("per-term boosts == token-order scoring with boost-scaled idf") {
    val docs = randomCorpus(nDocs = 600, vocab = 120, seed = 131)
    val oracle = new Bm25.Oracle(docs, P)
    val dir = scratchDir("boost")
    buildIndex(docs, dir, shardBits = 7, groups = 2)
    val queries: Seq[(Long, String)] = Seq(
      1L -> "t0 t1 t5", 2L -> "t100 t7 t3", 3L -> "t0 t0 t42")
    val boosts = Map(
      1L -> Map("t0" -> 2.5, "t5" -> 0.25),
      2L -> Map("t7" -> 10.0),
      3L -> Map("t0" -> 0.5)) // boosts a REPEATED token (each occurrence)
    val k = 10
    // expected: evalDoc's exact accumulation order (original token order,
    // one addition per occurrence) with idf scaled by the boost
    def want(text: String, bs: Map[String, Double]): Seq[(Long, Double)] = {
      val toks = text.split(" ").toSeq
      docs.indices.map { i =>
        var s = 0.0
        toks.foreach { t =>
          val cnt = docs(i).count(_ == t).toLong
          if (cnt > 0L)
            s += Bm25.termScore(oracle.idf(t) * bs.getOrElse(t, 1.0),
              cnt, docs(i).length.toLong, oracle.avgdl, P)
        }
        (i.toLong, s)
      }.filter(_._2 != 0.0).sortBy { case (d, s) => (-s, d) }.take(k)
    }
    val got = Wand.search(spark, dir, queries, k, boosts = boosts)
      .collect().groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap
    queries.foreach { case (qid, text) =>
      assert(got(qid) == want(text, boosts(qid)), s"boosts broke q$qid")
      // boosting genuinely reordered vs unboosted
      assert(got(qid) != want(text, Map.empty), s"boost was a no-op for q$qid")
    }
    // all-1.0 boosts are bitwise identical to the unboosted path
    val unit = Wand.search(spark, dir, queries, k,
      boosts = queries.map { case (id, t) =>
        id -> t.split(" ").map(_ -> 1.0).toMap }.toMap).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val plain = Wand.search(spark, dir, queries, k).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(unit == plain)
    // invalid boosts fail loudly
    intercept[IllegalArgumentException] {
      Wand.prepare(spark, PackedIndex.snapshot(dir), queries, boosts = Map(1L -> Map("t0" -> 0.0)))
    }
  }

  test("more_like_this == WAND on the doc's top rounded-tf-idf terms") {
    val docs = randomCorpus(nDocs = 400, vocab = 80, seed = 151)
    val oracle = new Bm25.Oracle(docs, P)
    val dir = scratchDir("mlt")
    buildIndex(docs, dir, shardBits = 7, groups = 2)
    val src = 7
    val text = docs(src).mkString(" ")
    // expected selection: distinct terms ranked by round(tf*idf, 6) desc,
    // term asc — the operator's documented determinism contract
    val tf = docs(src).groupBy(identity).map { case (t, a) => t -> a.length }
    val sel = tf.keys.toSeq
      .map { t => t -> BigDecimal(tf(t).toDouble * oracle.idf(t))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP) }
      .sortBy { case (t, w) => (-w, t) }.take(5).map(_._1)
    val got = graft.query.MoreLikeThis.search(spark, dir,
      Seq(3L -> text), maxTerms = 5, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val want = Wand.search(spark, dir, Seq(3L -> sel.sorted.mkString(" ")), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == want && got.nonEmpty)
    // the source document is retrieved by its own top terms
    assert(got.exists(_._2 == src.toLong))
    // a doc with no indexed vocabulary yields no rows, not a crash
    assert(graft.query.MoreLikeThis.search(spark, dir,
      Seq(4L -> "zz_only absent_terms"), maxTerms = 5, k = 10).count() == 0)
  }

  test("WAND parity under heavy stopword skew (salt/split stress)") {
    // 90% of tokens drawn from 3 stopwords -> giant posting lists
    val rnd = new scala.util.Random(11)
    val stop = Array("the", "of", "and")
    val docs = IndexedSeq.tabulate(800) { _ =>
      val len = 5 + rnd.nextInt(40)
      Array.fill(len) {
        if (rnd.nextDouble() < 0.9) stop(rnd.nextInt(3)) else s"w${rnd.nextInt(100)}"
      }
    }
    val oracle = new Bm25.Oracle(docs, P)
    val dir = scratchDir("idx-skew")
    buildIndex(docs, dir, shardBits = 7, groups = 2)
    val queries = Seq(1L -> "the w5", 2L -> "the of and", 3L -> "w1 w2 the")
    val got = Wand.search(spark, dir, queries, 15).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap
    queries.foreach { case (qid, text) =>
      val want = oracle.topK(text.split(" ").toSeq, 15).filter(_._2 != 0.0)
      assert(got(qid) == want, s"skew parity failed for q$qid")
    }
  }

  test("compaction == fresh build over survivors (ids kept, stats exact)") {
    val docs = randomCorpus(nDocs = 600, vocab = 120, seed = 21)
    val dir = scratchDir("cpt")
    buildIndex(docs, dir, shardBits = 7, groups = 2)
    val dead = (Seq(0L, 3L, 17L, 255L, 256L, 599L) ++ (100L until 120L)).distinct
    PackedIndex.delete(dir, dead)
    val out = scratchDir("cpt-out")
    PackedIndex.compact(spark, dir, out)
    assert(PackedIndex.snapshot(out).tombstones.isEmpty)

    // stats equal a fresh build over the survivors bit-for-bit
    val deadSet = dead.toSet
    val survivors = docs.indices.map(_.toLong).filterNot(deadSet)
    val freshDocs: IndexedSeq[Array[String]] = survivors.map(i => docs(i.toInt))
    val dirF = scratchDir("cpt-fresh")
    buildIndex(freshDocs, dirF, shardBits = 7, groups = 2)
    val sC = PackedIndex.snapshot(out).stats
    val sF = PackedIndex.snapshot(dirF).stats
    assert(sC.n == sF.n)
    assert(sC.avgdl == sF.avgdl, s"avgdl ${sC.avgdl} vs fresh ${sF.avgdl}")
    assert(sC.avgRawIdf == sF.avgRawIdf)

    // query parity: compacted index == exhaustive oracle over survivors,
    // scores bit-identical, ORIGINAL doc ids preserved
    val oracle = new Bm25.Oracle(freshDocs, P)
    val queries = Seq(1L -> "t0 t1", 2L -> "t100 t110 t5", 3L -> "t42 t42 t7")
    val got = Wand.search(spark, out, queries, 0).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap
    queries.foreach { case (qid, text) =>
      val want = oracle.topK(text.split(" ").toSeq, 0).filter(_._2 != 0.0)
        .map { case (idx, s) => (survivors(idx.toInt), s) }
      assert(got.getOrElse(qid, Seq.empty) == want,
        s"compacted search mismatch for q$qid")
    }

    // the id high-water mark survives compaction: the compacted index holds
    // fewer docs than its highest id + 1, yet id allocation must stay above
    // the ORIGINAL range (the record's nextDocId; a sum of group docs would
    // hand out ids that collide with surviving docs)
    assert(PackedIndex.snapshot(out).nextDocId == 600L)
    PackedIndex.delete(out, Seq(598L)) // highest SURVIVING id is deletable
    assert(PackedIndex.snapshot(out).tombstones.sameElements(Array(598L)))
    // 599 was compacted away: re-deleting it is a no-op on the dead-id
    // ledger, not a fresh tombstone
    PackedIndex.delete(out, Seq(599L))
    assert(PackedIndex.snapshot(out).tombstones.sameElements(Array(598L)))

    // deleting an id the index never committed fails loudly
    intercept[IllegalArgumentException] {
      PackedIndex.delete(dir, Seq(10000L))
    }

    // append to the compacted index: new ids start ABOVE nextDocId and
    // nextDocId advances with the batch
    val extra: IndexedSeq[Array[String]] =
      IndexedSeq(Array("t0", "zz1"), Array("zz1", "zz2"))
    val extraDf = extra.zipWithIndex
      .map { case (t, i) => (600L + i, t.mkString(" ")) }.toDF("doc_id", "text")
    PackedIndex.append(InvertedIndex.tokenize(extraDf, "doc_id", "text"), out)
    assert(PackedIndex.snapshot(out).nextDocId == 602L)
    val zzHits = Wand.search(spark, out, Seq(9L -> "zz1"), 0).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(zzHits == Set(600L, 601L), s"appended docs not searchable: $zzHits")
  }

  test("compaction is crash-safe: no manifest -> invisible; retry == clean run") {
    val docs = randomCorpus(nDocs = 300, vocab = 80, seed = 31)
    val dir = scratchDir("cptc")
    buildIndex(docs, dir, shardBits = 7, groups = 2)
    PackedIndex.delete(dir, Seq(1L, 7L, 100L))
    val out = scratchDir("cptc-out")
    PackedIndex.compact(spark, dir, out)
    val clean = Wand.search(spark, out, Seq(1L -> "t0 t1"), 0).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).sorted.toSeq

    // simulate a crash BEFORE the record commit: readers must fail
    // loudly (no committed index), not serve a half-written index
    val out2 = scratchDir("cptc-out2")
    PackedIndex.compact(spark, dir, out2)
    java.nio.file.Files.delete(java.nio.file.Paths.get(out2, "index.json"))
    intercept[IllegalArgumentException] {
      PackedIndex.snapshot(out2).postings(spark).count()
    }
    // retried compaction overwrites every partial artifact with identical
    // content; the result equals the clean run
    PackedIndex.compact(spark, dir, out2)
    val retried = Wand.search(spark, out2, Seq(1L -> "t0 t1"), 0).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).sorted.toSeq
    assert(retried == clean)
  }

  test("delete lifecycle across compactions: holes are no-ops, stats stay exact") {
    val docs = randomCorpus(nDocs = 400, vocab = 90, seed = 41)
    val dir = scratchDir("holes")
    buildIndex(docs, dir, shardBits = 7, groups = 2)
    val dead1 = Seq(2L, 5L, 9L, 100L, 150L)
    PackedIndex.delete(dir, dead1)
    val out1 = scratchDir("holes-out1")
    PackedIndex.compact(spark, dir, out1)
    assert(PackedIndex.snapshot(out1).holes.toSeq == dead1.sorted)

    // re-issued GDPR delete of an already-erased doc: a no-op, not a new
    // tombstone (it would make the next compact subtract a nonexistent doc)
    PackedIndex.delete(out1, Seq(5L, 9L))
    assert(PackedIndex.snapshot(out1).tombstones.isEmpty)

    // mixed batch: hole ids filtered, live ids tombstoned
    PackedIndex.delete(out1, Seq(5L, 33L, 44L))
    assert(PackedIndex.snapshot(out1).tombstones.sameElements(Array(33L, 44L)))

    // second compaction: stats == fresh rebuild over the TRUE survivors
    val out2 = scratchDir("holes-out2")
    PackedIndex.compact(spark, out1, out2)
    val deadAll = (dead1 ++ Seq(33L, 44L)).toSet
    val survivors = docs.indices.map(_.toLong).filterNot(deadAll)
    val dirF = scratchDir("holes-fresh")
    buildIndex(survivors.map(i => docs(i.toInt)), dirF, shardBits = 7, groups = 2)
    val sC = PackedIndex.snapshot(out2).stats
    val sF = PackedIndex.snapshot(dirF).stats
    assert(sC.n == sF.n, s"n ${sC.n} vs fresh ${sF.n}")
    assert(sC.avgdl == sF.avgdl)
    assert(sC.avgRawIdf == sF.avgRawIdf)
    // the dead-id ledger carries forward across compactions
    assert(PackedIndex.snapshot(out2).holes.toSeq == deadAll.toSeq.sorted)

    // query parity over survivors with ORIGINAL ids
    val oracle = new Bm25.Oracle(survivors.map(i => docs(i.toInt)), P)
    val got = Wand.search(spark, out2, Seq(1L -> "t0 t1 t5"), 0).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    val want = oracle.topK(Seq("t0", "t1", "t5"), 0).filter(_._2 != 0.0)
      .map { case (idx, s) => (survivors(idx.toInt), s) }
    assert(got == want)
  }

  test("tombstone set is bounded: overflow fails with the compact remedy") {
    val docs = randomCorpus(nDocs = 100, vocab = 30, seed = 61)
    val dir = scratchDir("tbound")
    buildIndex(docs, dir, shardBits = 7, groups = 1)
    PackedIndex.delete(dir, (0L until 5L).toSeq, maxTombstones = 8)
    val ex = intercept[IllegalArgumentException] {
      PackedIndex.delete(dir, (5L until 10L).toSeq, maxTombstones = 8)
    }
    assert(ex.getMessage.contains("compact"))
    // the failed call must not have grown the committed set
    assert(PackedIndex.snapshot(dir).tombstones.length == 5)
  }

  test("build is resumable: completed groups are skipped, result identical") {
    val docs = randomCorpus(nDocs = 300, vocab = 80, seed = 3)
    val dir = scratchDir("idx-resume")
    buildIndex(docs, dir, shardBits = 7, groups = 3)
    val first = PackedIndex.snapshot(dir).manifests
    // simulate a crash before the commit that lost group 1's data
    val g1 = new java.io.File(s"$dir/postings/grp=1")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm); f.delete()
    }
    rm(g1)
    Files.delete(java.nio.file.Path.of(s"$dir/index.json"))
    // resume: groups 0 and 2 must be skipped (their writes committed), 1
    // rebuilt, and every group counted as the clean build counted it
    val df = docs.zipWithIndex.map { case (t, i) => (i.toLong, t.mkString(" ")) }
      .toDF("doc_id", "text")
    val tok = InvertedIndex.tokenize(df, "doc_id", "text")
    val manifests = PackedIndex.build(tok, dir, shardBits = 7, groups = 3, p = P)
    assert(manifests == first)
    // full parity after resume
    val oracle = new Bm25.Oracle(docs, P)
    val got = Wand.search(spark, dir, Seq(1L -> "t0 t5 t10"), 5).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq
    val want = oracle.topK(Seq("t0", "t5", "t10"), 5).filter(_._2 != 0.0)
    assert(got == want)
  }

  test("dense docId assignment is 0..N-1 without shuffle of the data") {
    val df = (0 until 1000).map(i => (s"u$i", i % 7)).toDF("url", "x")
      .repartition(6)
    val withIds = DocIds.assignDense(df)
    val ids = withIds.select("doc_id").as[Long].collect().sorted
    assert(ids.toSeq == (0L until 1000L))
  }
}
