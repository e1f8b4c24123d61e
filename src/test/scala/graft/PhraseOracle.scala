package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cross-check arms of the phrase operators, used only by PhraseSpec:
  * declarative Catalyst counts over token arrays and conjunctive candidate
  * sets, each an independent second implementation of what
  * [[graft.query.Phrase]] serves.
  */
object PhraseOracle {

  /** Sliding-window occurrence count of `phrase` in a token-array column
    * (overlapping matches count). Pure declarative Catalyst — the phrase is
    * a literal, so the whole predicate folds into one codegen'd aggregate
    * over a per-row sequence.
    */
  def phraseCount(terms: Column, phrase: Seq[String]): Column = {
    require(phrase.nonEmpty, "phraseCount: empty phrase")
    val L = phrase.length
    when(size(terms) < L, lit(0L)).otherwise(
      aggregate(
        sequence(lit(0), size(terms) - L),
        lit(0L),
        (acc, i) => acc + when(
          phrase.zipWithIndex.map { case (p, j) =>
            get(terms, i + lit(j)) === lit(p)
          }.reduce(_ && _), lit(1L)).otherwise(lit(0L))))
  }

  /** Let-binding for per-term position arrays: each term's sorted position
    * array is computed ONCE per row and handed to `body`. Catalyst has no
    * let — a Column spliced into a higher-order-function lambda is
    * re-evaluated on EVERY lambda invocation, so the window-count folds
    * below would otherwise re-filter the whole token array per anchor
    * position (O(len^2 x terms) per doc, measured as the dominant cost of
    * the proximity/NEAR rescan paths). A transform over a singleton struct
    * array evaluates the captured arrays exactly once.
    */
  private def withPositions(termsCol: Column, terms: Seq[String])(
      body: Seq[Column] => Column): Column = {
    val idx = sequence(lit(1), size(termsCol))
    val arrays = struct(terms.zipWithIndex.map { case (t, i) =>
      filter(idx, j => get(termsCol, j - 1) === lit(t)).as(s"p$i")
    }: _*)
    element_at(transform(array(arrays), s =>
      body(terms.indices.map(i => s.getField(s"p$i")))), 1)
  }

  /** Ordered proximity count: number of (p, q) occurrence pairs with
    * `a` at p, `b` at q, and 0 < q - p <= slop (an ordered within-window
    * co-occurrence count; slop = 1 degenerates to the bigram phrase count).
    * Declarative Catalyst like [[phraseCount]] — SQL-expressible, so the
    * operator carries an exact DuckDB oracle (nested list lambdas).
    */
  def proximityCount(terms: Column, a: String, b: String, slop: Int): Column = {
    require(slop >= 1, "proximityCount: slop must be >= 1")
    when(size(terms) < 1, lit(0L)).otherwise(
      withPositions(terms, Seq(a, b)) { case Seq(posA, posB) =>
        aggregate(posA, lit(0L), (acc, p) =>
          acc + size(filter(posB, q => q > p && q <= p + lit(slop))).cast("long"))
      })
  }

  /** Unordered multi-term proximity (the standard NEAR/n operator): count
    * of occurrences p of `terms.head` (the anchor term) such that EVERY
    * other term has an occurrence within `slop` tokens of p in EITHER
    * direction (|q - p| <= slop). slop >= 1; terms must be distinct and
    * >= 2 (positions of distinct terms can never coincide, so q != p is
    * automatic). Declarative Catalyst like [[phraseCount]]/[[proximityCount]]
    * — SQL-expressible, so the operator carries an exact DuckDB oracle.
    */
  def nearCount(termsCol: Column, terms: Seq[String], slop: Int): Column = {
    require(slop >= 1, "nearCount: slop must be >= 1")
    require(terms.length >= 2 && terms.distinct == terms,
      "nearCount: need >= 2 distinct terms")
    when(size(termsCol) < 1, lit(0L)).otherwise(
      withPositions(termsCol, terms) { ps =>
        aggregate(ps.head, lit(0L), (acc, p) =>
          acc + when(
            ps.tail.map(pt =>
              exists(pt, q => q >= p - slop && q <= p + slop))
              .reduce(_ && _),
            lit(1L)).otherwise(lit(0L)))
      })
  }

  /** Docs whose postings contain EVERY distinct phrase term (conjunctive
    * candidate set). The term IN-filter pushes to the postings source; the
    * aggregation emits doc ids only.
    */
  def candidates(postings: DataFrame, phrase: Seq[String]): DataFrame = {
    val distinctTerms = phrase.distinct
    postings.filter(col("term").isin(distinctTerms: _*))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("nt"))
      .filter(col("nt") === distinctTerms.size)
      .select(col("doc_id"))
  }

  /** Conjunctive candidates straight from a PACKED index dir: the term
    * IN-filter pushes to the postings parquet, block headers prune nothing
    * here (all blocks of a matching term decode), but only the phrase
    * terms' lists are ever read. Honors tombstones.
    */
  def candidatesPacked(spark: org.apache.spark.sql.SparkSession,
                       indexDir: String, phrase: Seq[String]): DataFrame = {
    import spark.implicits._
    val distinctTerms = phrase.distinct
    val snap = graft.index.PackedIndex.snapshot(indexDir)
    val bcTomb = spark.sparkContext.broadcast(snap.tombstones)
    val pairs = snap.postings(spark)
      .filter(col("term").isin(distinctTerms: _*))
      .flatMap { pp =>
        val t = bcTomb.value
        pp.blocks.iterator.flatMap(_.toCodec.decodeDocIds.iterator)
          .filter(d => java.util.Arrays.binarySearch(t, d) < 0)
          .map(d => (d, pp.term))
      }.toDF("doc_id", "term")
    pairs.groupBy(col("doc_id"))
      .agg(countDistinct(col("term")).as("nt"))
      .filter(col("nt") === distinctTerms.size)
      .select(col("doc_id"))
  }
}
