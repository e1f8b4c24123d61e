package graft.query

/** A positional-arm query for the batched serving layer ([[Phrase.search]] /
  * [[Phrase.searchDs]] / [[PositionalRetriever]]): each variant names its
  * per-slot terms and the per-doc match-count kernel applied to the slot
  * position arrays. The single-query operators ([[Phrase.topKPositional]]
  * & siblings) are one-query [[Phrase.search]] calls, so batch and single
  * paths share one implementation and their counts are identical by
  * construction (pinned in PhraseSpec).
  */
sealed trait PositionalQuery extends Serializable {
  /** Slot i's positions feed kernel slot i; repeated terms share arrays. */
  def slotTerms: Seq[String]
  private[query] def kernel: Array[Array[Long]] => Long
}

object PositionalQuery {

  /** Ordered exact phrase: count of sliding occurrences (overlaps count). */
  final case class PhraseMatch(phrase: Seq[String]) extends PositionalQuery {
    require(phrase.nonEmpty, "PhraseMatch: empty phrase")
    override def slotTerms: Seq[String] = phrase
    override private[query] def kernel = Phrase.phraseKernelCount
  }

  /** Ordered proximity: count of (a at p, b at q) pairs, 0 < q - p <= slop. */
  final case class ProximityMatch(a: String, b: String, slop: Int)
      extends PositionalQuery {
    require(slop >= 1, "ProximityMatch: slop must be >= 1")
    override def slotTerms: Seq[String] = Seq(a, b)
    override private[query] def kernel = Phrase.proximityKernelCount(slop)
  }

  /** Unordered NEAR/n: anchors of terms.head with every follower within
    * slop tokens in either direction.
    */
  final case class NearMatch(terms: Seq[String], slop: Int)
      extends PositionalQuery {
    require(slop >= 1, "NearMatch: slop must be >= 1")
    require(terms.length >= 2 && terms.distinct == terms,
      "NearMatch: need >= 2 distinct terms")
    override def slotTerms: Seq[String] = terms
    override private[query] def kernel = Phrase.nearKernelCount(slop)
  }
}

/** Text -> [[PositionalQuery]] parser for the Retriever/serving surface:
  * query text is tokenized with the engine's exact tokenizer
  * ([[graft.tokenize.PyTokenize.split]] — the same splitter the WAND
  * serving path uses) and mapped to one positional-query shape.
  */
sealed trait PositionalMode extends Serializable {
  def parse(text: String): PositionalQuery
}

object PositionalMode {
  private def toks(text: String): Seq[String] =
    graft.tokenize.PyTokenize.split(text).toSeq

  /** The token sequence is an exact ordered phrase. */
  case object PhraseMode extends PositionalMode {
    override def parse(text: String): PositionalQuery =
      PositionalQuery.PhraseMatch(toks(text))
  }

  /** Exactly two tokens: leader and follower of an ordered slop window. */
  final case class ProximityMode(slop: Int) extends PositionalMode {
    override def parse(text: String): PositionalQuery = {
      val t = toks(text)
      require(t.length == 2,
        s"ProximityMode: need exactly 2 tokens, got ${t.length} in '$text'")
      PositionalQuery.ProximityMatch(t.head, t(1), slop)
    }
  }

  /** Distinct tokens under unordered NEAR/slop (head = anchor term).
    * Repeated tokens in the text are deduplicated here (first occurrence
    * keeps its position in the slot order) — NearMatch itself requires
    * distinct terms, and a raw token list would fail the whole serving
    * batch on any query like "big big data".
    */
  final case class NearMode(slop: Int) extends PositionalMode {
    override def parse(text: String): PositionalQuery =
      PositionalQuery.NearMatch(toks(text).distinct, slop)
  }
}
