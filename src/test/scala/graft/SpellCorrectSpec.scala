package graft

import org.apache.spark.sql.functions._
import graft.query.SpellCorrect

/** SymSpell-shaped spell correction: the deletion-variant pruning join
  * must be semantically invisible (exact levenshtein decides), catch all
  * three distance-1 edit classes, exclude transpositions (distance 2 in
  * plain Levenshtein), respect the df ranking, and drop-account hot
  * variants through the per-variant cap.
  */
class SpellCorrectSpec extends SparkSpec {
  import spark.implicits._

  private def dict(rows: (String, Long)*) = rows.toDF("term", "df")

  private def suggestions(d: org.apache.spark.sql.DataFrame,
                          qs: (Long, String)*): Seq[(Long, String, String, Long, Int)] =
    SpellCorrect.suggest(qs.toDF("query_id", "term"),
      SpellCorrect.deletionIndex(d), k = 5)
      .orderBy(col("query_id"), col("rank"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getInt(4))).toSeq

  test("all three edit classes match; transposition and distance-2 do not") {
    val d = dict("spark" -> 10L, "table" -> 20L, "query" -> 5L, "ab" -> 7L,
      "ba" -> 3L, "tales" -> 2L)
    val got = suggestions(d,
      1L -> "sparkk", // insertion in the query
      2L -> "tble",   // deletion in the query
      3L -> "quary",  // substitution
      4L -> "ab",     // exact + NOT the transposed 'ba' (lev=2)
      5L -> "zzzzz")  // nothing within 1
    assert(got == Seq(
      (1L, "sparkk", "spark", 10L, 1),
      (2L, "tble", "table", 20L, 1),
      (3L, "quary", "query", 5L, 1),
      (4L, "ab", "ab", 7L, 1)))
  }

  test("ranking is df desc then term asc; k bounds the list") {
    val d = dict("cat" -> 5L, "car" -> 9L, "can" -> 9L, "cab" -> 1L,
      "bat" -> 4L)
    val got = suggestions(d, 1L -> "cat")
    // all of cat/car/can/cab/bat are within 1 of 'cat'
    assert(got.map(g => (g._3, g._5)) ==
      Seq(("can", 1), ("car", 2), ("cat", 3), ("bat", 4), ("cab", 5)))
  }

  test("per-variant cap keeps the top-df terms and stays exact for them") {
    val d = dict("aa" -> 1L, "ab" -> 5L, "ac" -> 9L, "ad" -> 7L)
    // variant 'a' is shared by all four; cap 2 keeps ac (9) and ad (7)
    val idx = SpellCorrect.deletionIndex(d, maxTermsPerVariant = 2)
    val kept = idx.filter(col("variant") === "a")
      .select(col("term")).collect().map(_.getString(0)).toSet
    assert(kept == Set("ac", "ad"))
    // suggestions for 'a' now see only the kept candidates (documented
    // drop semantics: a capped-out term lost the df ranking anyway)
    val got = SpellCorrect.suggest(Seq(1L -> "a").toDF("query_id", "term"),
      idx, k = 5).orderBy(col("rank"))
      .collect().map(r => (r.getString(2), r.getInt(4))).toSeq
    assert(got == Seq(("ac", 1), ("ad", 2)))
  }

  test("expandBatch == brute-force levenshtein expansion over the vocab") {
    val vocab = Seq("spark" -> 10L, "sparks" -> 4L, "stark" -> 2L,
      "table" -> 20L, "fable" -> 1L, "query" -> 5L, "quarry" -> 3L,
      "ab" -> 7L, "ba" -> 3L)
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1)((i, j) =>
        if (i == 0) j else if (j == 0) i else 0)
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val idx = SpellCorrect.deletionIndex(dict(vocab: _*))
    val queries = Seq(1L -> Seq("sparkk", "quary"), 2L -> Seq("ab"),
      3L -> Seq("zzzzz"))
    val got = SpellCorrect.expandBatch(spark, queries, idx)
    val want = queries.flatMap { case (id, ts) =>
      val exp = vocab.map(_._1)
        .filter(v => ts.exists(t => lev(t, v) <= 1)).sorted
      if (exp.isEmpty) None else Some(id -> exp)
    }.toMap
    assert(got == want)
    // the brute-force expansion is genuinely multi-candidate here
    assert(want(1L).toSet == Set("spark", "sparks", "query", "quarry"))
  }

  test("fuzzySearch == WAND search on the expanded rewrite") {
    val docs = Seq(
      (0L, "spark table fast"), (1L, "sparks fly high"),
      (2L, "stark contrast here"), (3L, "query the table"),
      (4L, "nothing relevant at all")).toDF("doc_id", "text")
    val tok = graft.index.InvertedIndex.tokenize(docs, "doc_id", "text")
    val dir = scratchDir("fz")
    graft.index.PackedIndex.build(tok, dir, shardBits = 7, groups = 1,
      p = graft.core.Bm25Params())
    val didx = SpellCorrect.deletionIndex(SpellCorrect.dictionary(tok))
    val got = SpellCorrect.fuzzySearch(spark, dir,
      Seq(7L -> "sparkk", 8L -> "zzzzzzzz"), k = 10, didx)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // expansion of 'sparkk' over this vocab: spark, sparks (lev 1 each)
    val want = graft.query.Wand.search(spark, dir,
      Seq(7L -> "spark sparks"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(got.map(_._2) == Set(0L, 1L)) // docs holding spark or sparks
    assert(!got.exists(_._1 == 8L))      // no expansion -> no rows
  }

  test("synonymSearch == WAND search on the unioned rewrite") {
    val docs = Seq(
      (0L, "spark table fast"), (1L, "flame engine here"),
      (2L, "query the table"), (3L, "nothing relevant")).toDF("doc_id", "text")
    val tok = graft.index.InvertedIndex.tokenize(docs, "doc_id", "text")
    val dir = scratchDir("syn")
    graft.index.PackedIndex.build(tok, dir, shardBits = 7, groups = 1,
      p = graft.core.Bm25Params())
    val syn = Seq("spark" -> "flame", "absent" -> "engine")
      .toDF("term", "synonym")
    val got = SpellCorrect.synonymSearch(spark, dir,
      Seq(5L -> "spark spark", 6L -> "table"), k = 10, syn)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // q5: tokens {spark} + synonym flame -> "flame spark"; the repeated
    // token collapses (distinct union, each expanded term scores once).
    // q6: no synonym entry -> plain "table".
    val want = graft.query.Wand.search(spark, dir,
      Seq(5L -> "flame spark", 6L -> "table"), k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == want)
    assert(got.filter(_._1 == 5L).map(_._2) == Set(0L, 1L))
  }

  test("shuffle-join candidate path == broadcast path (big-batch fallback)") {
    val d = dict("spark" -> 10L, "sparks" -> 4L, "table" -> 20L, "ab" -> 7L)
    val idx = SpellCorrect.deletionIndex(d)
    val q = Seq((1L, "sparkk"), (2L, "tble"), (3L, "ab")).toDF("query_id", "term")
      .select(org.apache.spark.sql.functions.col("query_id"),
        org.apache.spark.sql.functions.col("term").as("q_term"),
        org.apache.spark.sql.functions.expr(
          "explode(array_distinct(concat(array(term), transform(sequence(1, length(term)), i -> concat(substring(term, 1, i - 1), substring(term, i + 1))))))").as("variant"))
    def rows(useBroadcast: Boolean) =
      graft.query.SpellCorrect.hashProbeJoin(q, idx, useBroadcast)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[String]("q_term"),
          r.getAs[String]("term"), r.getAs[Long]("df"))).toSet
    val b = rows(useBroadcast = true)
    val s = rows(useBroadcast = false)
    assert(b == s)
    assert(b.nonEmpty)
  }

  test("didYouMean keeps known tokens, corrects unknown, leaves hopeless") {
    val d = dict("spark" -> 10L, "sparks" -> 4L, "table" -> 20L, "data" -> 5L)
    val idx = SpellCorrect.deletionIndex(d)
    val got = SpellCorrect.didYouMean(spark,
      Seq(1L -> "sparkk tble data", 2L -> "zzzqq spark"), idx)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    // sparkk -> spark (df 10 beats sparks 4), tble -> table, data known;
    // zzzqq has no distance-1 candidate and stays
    assert(got == Set((1L, "spark table data", 2L), (2L, "zzzqq spark", 0L)))
    // a KNOWN token is never "corrected" to a higher-df neighbor
    val known = SpellCorrect.didYouMean(spark, Seq(3L -> "sparks"), idx)
      .collect().map(r => (r.getString(1), r.getLong(2))).toSeq
    assert(known == Seq(("sparks", 0L)))
  }

  test("fused buildDeletionIndex == window deletionIndex + persist (rows)") {
    val rnd = new scala.util.Random(77)
    val vocab = (0 until 400).map(i => s"w${rnd.nextInt(90)}x$i" -> rnd.nextInt(50).toLong)
    val d = dict(vocab: _*)
    val dir = scratchDir("didx")
    SpellCorrect.buildDeletionIndex(d, s"$dir/fused", maxTermsPerVariant = 3)
    SpellCorrect.persistDeletionIndex(
      SpellCorrect.deletionIndex(d, maxTermsPerVariant = 3), s"$dir/window")
    def rows(p: String) = spark.read.parquet(p)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val fused = rows(s"$dir/fused")
    val window = rows(s"$dir/window")
    assert(fused == window)
    assert(fused.nonEmpty)
    // and the capped cells kept the top-df terms in both forms
    val hot = spark.read.parquet(s"$dir/fused")
      .groupBy(col("variant")).count().agg(max(col("count"))).first().getLong(0)
    assert(hot <= 3)
  }

  test("dictionary counts document frequency, not term frequency") {
    val tok = Seq(
      (1L, Seq("x", "x", "y")),
      (2L, Seq("x", "z"))).toDF("doc_id", "terms")
    val d = SpellCorrect.dictionary(tok)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(d == Map("x" -> 2L, "y" -> 1L, "z" -> 1L))
  }
}
