package graft

import graft.index.InvertedIndex
import graft.query.Phrase
import org.apache.spark.sql.functions._

/** Phrase candidate-then-verify semantics: sliding (overlapping) counts,
  * conjunctive candidate pruning, short-doc edges.
  */
class PhraseSpec extends SparkSpec {
  import spark.implicits._

  private def tok(rows: (Long, String)*) =
    InvertedIndex.tokenize(rows.toDF("doc_id", "text"), "doc_id", "text")

  test("sliding phrase count includes overlapping matches") {
    val t = tok(
      0L -> "a a a",        // "a a" -> 2 overlapping matches
      1L -> "a b a b a",    // "a b" -> 2
      2L -> "b a",          // "a b" -> 0, "a a" -> 0
      3L -> "a")            // shorter than any 2-gram
    val counts = t.select(col("doc_id"),
        PhraseOracle.phraseCount(col("terms"), Seq("a", "a")).as("aa"),
        PhraseOracle.phraseCount(col("terms"), Seq("a", "b")).as("ab"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(counts(0L) == ((2L, 0L)))
    assert(counts(1L) == ((0L, 2L)))
    assert(counts(2L) == ((0L, 0L)))
    assert(counts(3L) == ((0L, 0L)))
  }

  test("candidates require ALL distinct terms; verify kills non-adjacent") {
    val t = tok(
      0L -> "x table deep scan y",  // both terms, NOT adjacent -> no hit
      1L -> "x table scan y",       // adjacent -> 1
      2L -> "table only here",      // missing 'scan' -> pruned pre-verify
      3L -> "scan table scan table scan") // 'table scan' x2
    val post = InvertedIndex.postings(t)
    assert(PhraseOracle.candidates(post, Seq("table", "scan"))
      .collect().map(_.getLong(0)).toSet == Set(0L, 1L, 3L))
    val hits = Phrase.topK(t, Seq("table", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
      .sortBy(_._3)
    assert(hits == Seq((3L, 2L, 1), (1L, 1L, 2)))
  }

  test("packed-index candidates == flat-postings candidates; tombstones honored") {
    val t = tok(
      0L -> "x table deep scan y",
      1L -> "x table scan y",
      2L -> "table only here",
      3L -> "scan table scan table scan")
    val dir = scratchDir("phrase-idx")
    graft.index.PackedIndex.build(t, dir, shardBits = 1, groups = 2)
    val flat = PhraseOracle.candidates(InvertedIndex.postings(t), Seq("table", "scan"))
      .collect().map(_.getLong(0)).toSet
    val packed = PhraseOracle.candidatesPacked(spark, dir, Seq("table", "scan"))
      .collect().map(_.getLong(0)).toSet
    assert(packed == flat)
    graft.index.PackedIndex.delete(dir, Seq(3L))
    val afterDel = PhraseOracle.candidatesPacked(spark, dir, Seq("table", "scan"))
      .collect().map(_.getLong(0)).toSet
    assert(afterDel == flat - 3L)
  }

  test("phraseCount == plain sliding count on random docs (property)") {
    val rnd = new scala.util.Random(17)
    val vocab = Array("a", "b", "c", "d")
    val docs = (0 until 60).map { i =>
      i.toLong -> Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val t = tok(docs: _*)
    for (phrase <- Seq(Seq("a"), Seq("a", "b"), Seq("b", "b"), Seq("a", "b", "a"))) {
      val got = t.select(col("doc_id"),
          PhraseOracle.phraseCount(col("terms"), phrase).as("c"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      docs.foreach { case (id, text) =>
        val toks = text.split(" ").filter(_.nonEmpty)
        val want = (0 to toks.length - phrase.length)
          .count(i => phrase.indices.forall(j => toks(i + j) == phrase(j)))
        assert(got(id) == want.toLong,
          s"doc $id '$text' phrase $phrase: got ${got(id)} want $want")
      }
    }
  }

  test("positional codec round-trip: packPositions then decode is identity") {
    val rnd = new scala.util.Random(23)
    for (_ <- 0 until 50) {
      val n = 1 + rnd.nextInt(300)
      val docs = new Array[Long](n)
      var acc = rnd.nextInt(1000).toLong
      for (i <- 0 until n) { acc += 1 + rnd.nextInt(50); docs(i) = acc }
      val poss = Array.fill(n) {
        val c = 1 + rnd.nextInt(8)
        val out = new Array[Long](c)
        var p = rnd.nextInt(4).toLong
        for (j <- 0 until c) { out(j) = p; p += 1 + rnd.nextInt(20) }
        out
      }
      val blocks = graft.index.Codec.packPositions(docs, poss, blockSize = 64)
      assert(blocks.flatMap(_.decodeDocIds).toSeq == docs.toSeq)
      val gotPos = blocks.flatMap(_.decodePositions)
      assert(gotPos.length == n)
      gotPos.zip(poss).foreach { case (g, w) => assert(g.sameElements(w)) }
      blocks.foreach(b => assert(b.maxDocId == b.decodeDocIds.last))
    }
  }

  test("positional phrase search == sliding rescan on random corpora (property)") {
    val rnd = new scala.util.Random(29)
    val vocab = Array("a", "b", "c", "d", "e")
    val docs = (0 until 150).map { i =>
      i.toLong -> Seq.fill(1 + rnd.nextInt(25))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val t = tok(docs: _*)
    val dir = scratchDir("posidx")
    graft.index.PackedIndex.build(t, dir, shardBits = 5, groups = 2)
    graft.index.PositionalIndex.build(t, dir)
    for (phrase <- Seq(Seq("a", "b"), Seq("a", "a"), Seq("c", "d", "a"),
        Seq("b"), Seq("a", "b", "a"))) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = rows(Phrase.topK(t, phrase, 500))
      val got = rows(Phrase.topKPositional(spark, dir, phrase, 500))
      assert(got == want, s"positional != rescan for phrase $phrase")
      assert(want.nonEmpty, s"degenerate fixture for phrase $phrase")
    }
  }

  test("positional phrase search honors tombstones") {
    val t = tok(
      0L -> "x table deep scan y",
      1L -> "x table scan y",
      2L -> "scan table scan table scan")
    val dir = scratchDir("postomb")
    graft.index.PackedIndex.build(t, dir, shardBits = 2, groups = 1)
    graft.index.PositionalIndex.build(t, dir)
    val before = Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sortBy(_._3)
    assert(before == Seq((2L, 2L, 1), (1L, 1L, 2)))
    graft.index.PackedIndex.delete(dir, Seq(2L))
    val after = Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(after == Seq((1L, 1L, 1)))
  }

  test("stopword-led phrases from the positional arm == rescan topK across groups, before and after a delete") {
    // shardBits 4 plus two appends: the stopword leader's positional rows
    // of the boundary shards span a build group and an appended one
    val dir = scratchDir("stopword-phrase")
    MultiGroupIndex.build(spark, dir, shardBits = 4)
    MultiGroupIndex.append(spark, dir, 200)
    MultiGroupIndex.append(spark, dir, 220)
    // per stopword leader, its most frequent bigram in the corpus
    val bigrams = MultiGroupIndex.Docs.flatMap(_._2.split(" ").sliding(2).map(_.toSeq))
    val phrases = Seq("the", "of").map { lead =>
      bigrams.filter(_.head == lead).groupBy(identity).toSeq
        .maxBy { case (p, occ) => (occ.size, p.last) }._1
    }
    def viaArm(p: Seq[String]) =
      Phrase.search(spark, dir, Seq(0L -> graft.query.PositionalQuery.PhraseMatch(p)), 1000)
        .collect().map(r => (r.getLong(1), r.getDouble(2).toLong, r.getInt(3))).toSeq
        .sortBy(_._3)
    def viaRescan(t: org.apache.spark.sql.DataFrame, p: Seq[String]) =
      Phrase.topK(t, p, 1000)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.sortBy(_._3)
    val corpus = MultiGroupIndex.tok(spark, 0, 240)
    val before = phrases.map(viaArm)
    phrases.zip(before).foreach { case (p, got) =>
      assert(got.size > 1 && got.exists(_._1 >= 200L), s"fixture degenerate for $p: $got")
      assert(got == viaRescan(corpus, p), s"phrase $p")
    }
    val victims = before.flatMap(_.take(2).map(_._1)).distinct
    graft.index.PackedIndex.delete(dir, victims)
    val live = corpus.filter(!col("doc_id").isin(victims: _*))
    phrases.foreach(p => assert(viaArm(p) == viaRescan(live, p), s"phrase $p after delete"))
  }

  test("stale positional arm after append fails loudly") {
    val t = tok(0L -> "table scan x", 1L -> "y table scan")
    val dir = scratchDir("posstale")
    graft.index.PackedIndex.build(t, dir, shardBits = 2, groups = 1)
    graft.index.PositionalIndex.build(t, dir)
    // append docs containing the phrase terms WITHOUT rebuilding the arm
    val extra = tok(2L -> "table scan table scan")
    graft.index.PackedIndex.append(extra, dir)
    val ex = intercept[IllegalArgumentException] {
      Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10).collect()
    }
    assert(ex.getMessage.contains("stale"))
    // INCREMENTAL catch-up: append only the missed batch (cost ∝ batch)
    graft.index.PositionalIndex.append(extra, dir)
    val hits = Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits == Map(0L -> 1L, 1L -> 1L, 2L -> 2L))
    // the appended arm is count-identical to a full rebuild
    graft.index.PositionalIndex.build(
      tok(0L -> "table scan x", 1L -> "y table scan",
        2L -> "table scan table scan"), dir)
    val rebuilt = Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(rebuilt == hits)
  }

  test("compact carries the positional arm: phrase/proximity on the compacted index") {
    val rnd = new scala.util.Random(31)
    val vocab = Array("table", "scan", "a", "b", "c")
    val docs = (0 until 80).map { i =>
      i.toLong -> Seq.fill(3 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val t = tok(docs: _*)
    val dir = scratchDir("poscpt")
    graft.index.PackedIndex.build(t, dir, shardBits = 4, groups = 2)
    graft.index.PositionalIndex.build(t, dir)
    // append a batch so the arm has >1 segment before compacting
    val extra = tok(80L -> "table scan table", 81L -> "scan a table scan")
    graft.index.PackedIndex.append(extra, dir)
    graft.index.PositionalIndex.append(extra, dir)
    val dead = Seq(3L, 17L, 80L)
    graft.index.PackedIndex.delete(dir, dead)
    val outDir = scratchDir("poscpt-out")
    graft.index.PackedIndex.compact(spark, dir, outDir)
    // the compacted arm answers from the index alone, ids preserved, and
    // matches the sliding rescan over the SURVIVING corpus exactly
    val survivors = tok((docs ++ Seq(
      80L -> "table scan table", 81L -> "scan a table scan"))
      .filterNot(d => dead.contains(d._1)): _*)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val wantPhrase = rows(Phrase.topK(survivors,
      Seq("table", "scan"), 500))
    val gotPhrase = rows(Phrase.topKPositional(spark, outDir,
      Seq("table", "scan"), 500))
    assert(gotPhrase == wantPhrase && wantPhrase.nonEmpty)
    assert(!gotPhrase.exists(r => dead.contains(r._1)))
    val wantProx = rows(Phrase.proximityTopK(survivors,
      "table", "scan", slop = 3, k = 500))
    val gotProx = rows(Phrase.proximityTopKPositional(spark, outDir,
      "table", "scan", slop = 3, k = 500))
    assert(gotProx == wantProx)
    // lifecycle still composes AFTER compaction: append above nextDocId
    // to both arms (the compacted arm is stamped with its single group 0)
    val next = graft.index.PackedIndex.snapshot(outDir).nextDocId
    val late = tok(next -> "table scan z")
    graft.index.PackedIndex.append(late, outDir)
    graft.index.PositionalIndex.append(late, outDir)
    graft.query.IndexCache.invalidateAll()
    val afterAppend = rows(Phrase.topKPositional(spark, outDir,
      Seq("table", "scan"), 500))
    assert(afterAppend.exists(_._1 == next), s"appended doc missing: $afterAppend")
    assert(afterAppend.map(r => r._1 -> r._2) ==
      wantPhrase.map(r => r._1 -> r._2) + (next -> 1L))
  }

  private def armSegments(dir: String): Seq[String] =
    graft.index.PackedIndex.snapshot(dir).positional.get.segments

  test("positional append: orphan segment dirs are invisible until the list flips") {
    val t = tok(0L -> "table scan a", 1L -> "b table scan")
    val dir = scratchDir("posorphan")
    graft.index.PackedIndex.build(t, dir, shardBits = 2, groups = 1)
    graft.index.PositionalIndex.build(t, dir)
    val before = Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10)
      .collect().map(_.getLong(0)).toSet
    // simulate a crash AFTER the segment write, BEFORE the commit:
    // fabricate an orphan segment dir (copy of the base) the record does not name
    def copyRec(s: java.io.File, d: java.io.File): Unit =
      if (s.isDirectory) { d.mkdirs(); s.listFiles.foreach(c => copyRec(c, new java.io.File(d, c.getName))) }
      else java.nio.file.Files.copy(s.toPath, d.toPath)
    copyRec(new java.io.File(s"$dir/positions"),
      new java.io.File(s"$dir/positions-a1"))
    val after = Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10)
      .collect().map(_.getLong(0)).toSet
    assert(after == before, "orphan positional segment leaked into results")
    assert(armSegments(dir) == Seq("positions"))
  }

  test("positional append behind two missed scoring appends fails loudly") {
    val dir = scratchDir("posmissed")
    graft.index.PackedIndex.build(tok(0L -> "table scan a"), dir, shardBits = 2, groups = 1)
    graft.index.PositionalIndex.build(tok(0L -> "table scan a"), dir)
    val first = tok(1L -> "b table scan")
    val second = tok(2L -> "table scan c")
    graft.index.PackedIndex.append(first, dir)
    graft.index.PackedIndex.append(second, dir)
    // catching up with only the latest batch would stamp group 1 covered
    val ex = intercept[IllegalArgumentException] {
      graft.index.PositionalIndex.append(second, dir)
    }
    assert(ex.getMessage.contains("misses scoring groups [1,2]"), ex.getMessage)
    assert(ex.getMessage.contains("PositionalIndex.build"), ex.getMessage)
    assert(armSegments(dir) == Seq("positions"))
    assert(intercept[IllegalArgumentException] {
      Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10).collect()
    }.getMessage.contains("stale"))
  }

  test("a retried positional append leaves one segment, not two") {
    val dir = scratchDir("posretry")
    graft.index.PackedIndex.build(tok(0L -> "table scan a"), dir, shardBits = 2, groups = 1)
    graft.index.PositionalIndex.build(tok(0L -> "table scan a"), dir)
    val extra = tok(1L -> "table scan table scan")
    graft.index.PackedIndex.append(extra, dir)
    graft.index.PositionalIndex.append(extra, dir)
    graft.index.PositionalIndex.append(extra, dir) // the batch is already covered
    assert(armSegments(dir) == Seq("positions", "positions-a1"))
    val hits = Phrase.topKPositional(spark, dir, Seq("table", "scan"), 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hits == Map(0L -> 1L, 1L -> 2L))
  }

  test("proximityCount: ordered window pairs, hand-computed goldens") {
    val t = tok(
      0L -> "x a b a c b",   // a@2,4 b@3,6: (2,3) g1, (4,6) g2 -> 2 at slop 3
      1L -> "b a",           // b BEFORE a: ordered count 0
      2L -> "a x x x b",     // gap 4 > slop 3 -> 0
      3L -> "a b b b")       // a@1, b@2,3,4: gaps 1,2,3 -> 3
    val got = t.select(col("doc_id"),
        PhraseOracle.proximityCount(col("terms"), "a", "b", slop = 3).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 0L, 2L -> 0L, 3L -> 3L))
    // same-term proximity: pairs of occurrences within the window
    val same = t.select(col("doc_id"),
        PhraseOracle.proximityCount(col("terms"), "b", "b", slop = 3).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(same(0L) == 1L && same(3L) == 3L) // b@3,6 gap3 -> 1; b@2,3,4 -> 3
  }

  test("proximity: positional kernel == declarative rescan (property)") {
    val rnd = new scala.util.Random(31)
    val vocab = Array("a", "b", "c", "d")
    val docs = (0 until 120).map { i =>
      i.toLong -> Seq.fill(1 + rnd.nextInt(20))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val t = tok(docs: _*)
    val dir = scratchDir("proxidx")
    graft.index.PackedIndex.build(t, dir, shardBits = 5, groups = 2)
    graft.index.PositionalIndex.build(t, dir)
    for ((a, b, slop) <- Seq(("a", "b", 1), ("a", "b", 3), ("c", "a", 5),
        ("b", "b", 2))) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = rows(Phrase.proximityTopK(t, a, b, slop, 500))
      val got = rows(Phrase.proximityTopKPositional(spark, dir, a, b, slop, 500))
      assert(got == want, s"positional != rescan for ($a,$b,slop=$slop)")
      assert(want.nonEmpty, s"degenerate fixture for ($a,$b,$slop)")
    }
    // slop=1 with distinct terms degenerates to the bigram phrase count
    val bigram = Phrase.topK(t, Seq("a", "b"), 500).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val prox1 = Phrase.proximityTopK(t, "a", "b", 1, 500).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(prox1 == bigram)
  }

  test("nearCount: unordered window anchors, hand-computed goldens") {
    val docs = Seq(
      //        1     2    3    4     5     6    (1-based positions)
      (0L, "scan x table y query z"),    // anchor 3: scan@1 (d2), query@5 (d2) -> 1
      (1L, "table a b c d scan"),        // anchor 1: scan@6 d5 out of slop 3 -> 0
      (2L, "query scan table scan query"), // anchor 3: both within 2 -> 1
      (3L, "table query table x scan"),  // anchors 1 (scan@5 d4 out) and 3 (query@2 d1, scan@5 d2) -> 1 at slop 3
      (4L, "no match here"))
      .toDF("doc_id", "text")
    val t = graft.index.InvertedIndex.tokenize(docs, "doc_id", "text")
    val got = t.select(col("doc_id"),
      PhraseOracle.nearCount(col("terms"), Seq("table", "scan", "query"), slop = 3).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 1L, 1L -> 0L, 2L -> 1L, 3L -> 1L, 4L -> 0L), s"got $got")
    // direction-insensitivity: slop 5 brings doc 1's scan into range
    val wide = t.select(col("doc_id"),
      PhraseOracle.nearCount(col("terms"), Seq("table", "scan"), slop = 5).as("c"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(wide(1L) == 1L)
  }

  test("NEAR: positional kernel == declarative rescan (property, 2 and 3 terms)") {
    val rnd = new scala.util.Random(37)
    val vocab = Array("a", "b", "c", "d", "e")
    val docs = (0 until 150).map { i =>
      i.toLong -> Seq.fill(1 + rnd.nextInt(25))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val t = tok(docs: _*)
    val dir = scratchDir("nearidx")
    graft.index.PackedIndex.build(t, dir, shardBits = 5, groups = 2)
    graft.index.PositionalIndex.build(t, dir)
    for ((terms, slop) <- Seq((Seq("a", "b"), 1), (Seq("a", "b"), 4),
        (Seq("c", "d", "a"), 3), (Seq("e", "b", "c", "d"), 5))) {
      def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val want = rows(Phrase.nearTopK(t, terms, slop, 500))
      val got = rows(Phrase.nearTopKPositional(spark, dir, terms, slop, 500))
      assert(got == want, s"NEAR positional != rescan for $terms slop=$slop")
      assert(want.nonEmpty, s"degenerate fixture for $terms slop=$slop")
    }
  }

  test("duplicate-term phrase uses distinct terms for candidates") {
    val t = tok(0L -> "go go go", 1L -> "go stop go")
    val hits = Phrase.topK(t, Seq("go", "go"), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hits == Map(0L -> 2L)) // "go go" twice in doc 0, zero in doc 1
  }

  test("batched positional serving == single-query operators (mixed batch)") {
    import graft.query.PositionalQuery._
    val rnd = new scala.util.Random(41)
    val vocab = Array("a", "b", "c", "d", "e")
    val docs = (0 until 150).map { i =>
      i.toLong -> Seq.fill(1 + rnd.nextInt(25))(
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
    }
    val t = tok(docs: _*)
    val dir = scratchDir("posbatch")
    graft.index.PackedIndex.build(t, dir, shardBits = 5, groups = 2)
    graft.index.PositionalIndex.build(t, dir)
    val batch: Seq[(Long, graft.query.PositionalQuery)] = Seq(
      1L -> PhraseMatch(Seq("a", "b")),
      2L -> PhraseMatch(Seq("a", "b", "a")),
      3L -> ProximityMatch("c", "d", 3),
      4L -> NearMatch(Seq("a", "b", "c"), 4),
      5L -> PhraseMatch(Seq("a", "zzz_absent")), // unindexed term -> no rows
      6L -> ProximityMatch("a", "a", 2))         // duplicate-term prox
    val k = 7
    val got = graft.query.Phrase.search(spark, dir, batch, k)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getDouble(2).toLong, r.getInt(3))))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(got.getOrElse(1L, Set.empty) ==
      rows(Phrase.topKPositional(spark, dir, Seq("a", "b"), k)))
    assert(got.getOrElse(2L, Set.empty) ==
      rows(Phrase.topKPositional(spark, dir, Seq("a", "b", "a"), k)))
    assert(got.getOrElse(3L, Set.empty) ==
      rows(Phrase.proximityTopKPositional(spark, dir, "c", "d", 3, k)))
    assert(got.getOrElse(4L, Set.empty) ==
      rows(Phrase.nearTopKPositional(spark, dir, Seq("a", "b", "c"), 4, k)))
    assert(!got.contains(5L))
    assert(got.getOrElse(6L, Set.empty) ==
      rows(Phrase.proximityTopKPositional(spark, dir, "a", "a", 2, k)))
    assert(got(1L).nonEmpty && got(3L).nonEmpty && got(4L).nonEmpty)
    // every query's result is k-bounded with contiguous ranks from 1
    got.foreach { case (qid, rs) =>
      assert(rs.size <= k && rs.map(_._3) == (1 to rs.size).toSet,
        s"query $qid ranks not contiguous: $rs")
    }
  }

  test("batched positional serving honors tombstones") {
    val t = tok(
      0L -> "x table deep scan y",
      1L -> "x table scan y",
      2L -> "scan table scan table scan")
    val dir = scratchDir("batchtomb")
    graft.index.PackedIndex.build(t, dir, shardBits = 2, groups = 1)
    graft.index.PositionalIndex.build(t, dir)
    graft.index.PackedIndex.delete(dir, Seq(2L))
    val got = graft.query.Phrase.search(spark, dir,
      Seq(9L -> graft.query.PositionalQuery.PhraseMatch(Seq("table", "scan"))), 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(3))).toSeq
    assert(got == Seq((9L, 1L, 1)))
  }
}
