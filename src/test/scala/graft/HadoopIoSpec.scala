package graft

import graft.io.MetaIO

/** The one storage boundary's two arms: a scheme-less path runs java.nio, a
  * URI runs the Hadoop FileSystem API. A `file://` URI of a local dir
  * drives the Hadoop arm against the same bytes, so every check here is a
  * parity check: same primitives, same index artifacts, same results.
  */
class HadoopIoSpec extends SparkSpec {
  import spark.implicits._

  /** A fresh local dir, as a scheme-less path and as a file:// URI. */
  private def freshDir(name: String): (String, String) = {
    val d = scratchDir(name)
    (d, s"file://$d")
  }

  test("MetaIO primitives: scheme-less and file:// paths behave the same") {
    val (local, uri) = freshDir("hmeta")
    for (root <- Seq(s"$local/plain", s"$uri/viaUri")) {
      // mkdirs + exists
      MetaIO.mkdirs(s"$root/a/b")
      assert(MetaIO.exists(s"$root/a/b"))
      // writeAtomic + readString, including overwrite of existing content
      MetaIO.writeAtomic(s"$root/a/x.json", """{"v":1}""")
      assert(MetaIO.readString(s"$root/a/x.json") == """{"v":1}""")
      MetaIO.writeAtomic(s"$root/a/x.json", """{"v":2,"wider":true}""")
      assert(MetaIO.readString(s"$root/a/x.json") == """{"v":2,"wider":true}""")
      // no .tmp residue from the atomic publish
      assert(!MetaIO.exists(s"$root/a/x.json.tmp"))
      // list: names only (no checksum files), absent dir -> empty
      MetaIO.writeAtomic(s"$root/a/y.txt", "y")
      assert(MetaIO.list(s"$root/a").toSet == Set("b", "x.json", "y.txt"), root)
      assert(MetaIO.list(s"$root/nope").isEmpty)
      // deleteRecursively removes trees and is a no-op on absent paths
      MetaIO.deleteRecursively(s"$root/a")
      assert(!MetaIO.exists(s"$root/a/x.json") && !MetaIO.exists(s"$root/a"))
      MetaIO.deleteRecursively(s"$root/a") // absent: must not throw
    }
    // both arms address the same bytes, and the Hadoop arm's checksum
    // sidecars exist on disk (so hiding them in list is a real check)
    MetaIO.writeAtomic(s"$local/shared.json", "from-path")
    assert(MetaIO.readString(s"$uri/shared.json") == "from-path")
    MetaIO.writeAtomic(s"$uri/shared.json", "from-uri")
    assert(MetaIO.readString(s"$local/shared.json") == "from-uri")
    assert(MetaIO.list(local).exists(_.endsWith(".crc")))
    assert(!MetaIO.list(uri).exists(_.endsWith(".crc")))
    // a plain-path rewrite of a file the URI arm wrote (and checksummed)
    // stays readable through the URI
    MetaIO.writeAtomic(s"$local/shared.json", "rewritten through the plain path")
    assert(MetaIO.readString(s"$uri/shared.json") == "rewritten through the plain path")
    // createTempDir yields fresh empty dirs
    val t1 = MetaIO.createTempDir("graft-hio")
    val t2 = MetaIO.createTempDir("graft-hio")
    assert(t1 != t2 && MetaIO.list(t1).isEmpty)
    Seq(t1, t2).foreach(MetaIO.deleteRecursively)
  }

  private def tok(rows: (Long, String)*) = graft.index.InvertedIndex.tokenize(
    rows.toDF("doc_id", "text"), "doc_id", "text")

  test("index lifecycle through a file:// URI == scheme-less path bit-for-bit") {
    val base = Seq(0L -> "alpha beta gamma", 1L -> "alpha delta epsilon",
      2L -> "beta beta zeta", 3L -> "gamma alpha beta")
    val extra = Seq(4L -> "omega alpha", 5L -> "omega beta gamma")
    val batch = Seq(0L -> "alpha beta", 1L -> "omega gamma")

    def buildAndSearch(uri: Boolean): Set[(Long, Long, Double, Int)] = {
      val (local, asUri) = freshDir("hio-idx")
      val dir = if (uri) asUri else local
      graft.index.PackedIndex.build(tok(base: _*), dir, shardBits = 2, groups = 2)
      graft.index.PackedIndex.append(tok(extra: _*), dir)
      graft.index.PackedIndex.delete(dir, Seq(2L))
      graft.query.IndexCache.invalidateAll()
      val got = graft.query.Wand.search(spark, dir, batch, 10).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      got
    }
    val viaPath = buildAndSearch(uri = false)
    val viaUri = buildAndSearch(uri = true)
    assert(viaUri == viaPath && viaPath.nonEmpty)
  }

  test("positional phrase/NEAR search through a file:// URI == scheme-less path") {
    val docs = Seq(0L -> "x table deep scan y table scan",
      1L -> "table scan query z", 2L -> "scan table q table scan query")
    def run(uri: Boolean) = {
      val (local, asUri) = freshDir("hio-pos")
      val dir = if (uri) asUri else local
      val t = tok(docs: _*)
      graft.index.PackedIndex.build(t, dir, shardBits = 2, groups = 1)
      graft.index.PositionalIndex.build(t, dir)
      graft.query.IndexCache.invalidateAll()
      def rows3(df: org.apache.spark.sql.DataFrame) = df.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val got = (rows3(graft.query.Phrase.topKPositional(spark, dir,
        Seq("table", "scan"), 10)),
        rows3(graft.query.Phrase.nearTopKPositional(spark, dir,
          Seq("table", "scan", "query"), slop = 4, k = 10)))
      got
    }
    val viaPath = run(uri = false)
    val viaUri = run(uri = true)
    assert(viaUri == viaPath && viaPath._1.nonEmpty && viaPath._2.nonEmpty)
  }

  test("searchDs via a file:// index: a small batch after a big one equals Wand.search") {
    val (_, dir) = freshDir("hio-ds")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 200, 4).toDF(), dir, shardBits = 6, groups = 2)
    def hits(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // big batch: 30 queries over chunkSize 7 -> 5 chunks
    val big = Bench.queryBatch(30)
    assert(hits(graft.query.Wand.searchDs(spark, dir,
      big.toDF("query_id", "text"), 10, chunkSize = 7)).nonEmpty)
    // the smaller batch's 3 chunks answer exactly what Wand.search does
    val small = Bench.queryBatch(15)
    val got = hits(graft.query.Wand.searchDs(spark, dir,
      small.toDF("query_id", "text"), 10, chunkSize = 7))
    assert(got.nonEmpty && got == hits(graft.query.Wand.search(spark, dir, small, 10)),
      s"query ids outside the batch: ${got.map(_._1) -- small.map(_._1)}")
  }

  test("zero-idf terms (df == N/2) stay retrievable and count toward msm") {
    // N=4, df("even")=2 -> raw idf = ln(2.5) - ln(2.5) = 0 EXACTLY; the
    // eps floor only applies to NEGATIVE raw idf, so "even" scores 0 but
    // must still match (DuckDB tf-join oracle includes its docs; ES msm
    // counts any matched term)
    val dir = scratchDir("zidf")
    graft.index.PackedIndex.build(
      tok(0L -> "even alpha", 1L -> "even beta", 2L -> "gamma delta",
        3L -> "epsilon zeta"),
      dir, shardBits = 2, groups = 1)
    val stats = graft.index.PackedIndex.snapshot(dir).stats
    assert(stats.idf(2L) == 0.0, "fixture: df=N/2 must give idf exactly 0")
    graft.query.IndexCache.invalidateAll()
    // msm=2: doc 0 matches BOTH query terms (even counts despite idf 0)
    val msm = graft.query.Wand.search(spark, dir, Seq(0L -> "even alpha"), 10,
      minShouldMatch = 2).collect()
      .map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(msm.keySet == Set(0L), s"msm=2 result: $msm")
    // the qualifying doc's score is the alpha contribution alone
    val alphaIdf = stats.idf(1L)
    val want = graft.core.Bm25.termScore(alphaIdf, 1L, 2L, stats.avgdl, stats.params)
    assert(msm(0L) == want)
    // plain retrieval: docs matched ONLY by the zero-idf term appear with
    // score 0.0 (the exhaustive-oracle semantics)
    val plain = graft.query.Wand.search(spark, dir, Seq(0L -> "even"), 10)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toMap
    assert(plain == Map(0L -> 0.0, 1L -> 0.0), s"plain zero-idf result: $plain")
  }
}
