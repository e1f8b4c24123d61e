package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for web-scale training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine near-dup.
  *
  * Scale design notes (100 TB):
  *  - exact dedup is a hash aggregation on a 16-byte fingerprint (never
  *    shuffles full text);
  *  - pairwise methods NEVER build the quadratic pair space: candidate
  *    pairs come from an equi-join on a bucketing key (shingle, LSH band,
  *    or simhash chunk), with hot buckets dropped by a frequency cap
  *    (a stopword-shingle bucket would otherwise explode the join);
  *  - hashes: MinHash/SimHash take a [[HashFamily]]. The default is
  *    [[XxFamily]] (seeded xxhash64 — Spark-native, codegen'd, one 64-bit
  *    digest where the md5 family needs a full MD5 block + hex string; this
  *    is the 100 TB path). [[Md5Family]] is the oracle mode: md5 is the one
  *    hash identical in Spark and DuckDB, so the contract queries request it
  *    to stay bit-verifiable cross-engine. Both families share every plan
  *    shape (banding, bucket caps, chunk pigeonholes) — only the hash kernel
  *    differs. Sign-LSH for embeddings is xxhash64-only (no oracle needs it).
  */
object Dedup {

  /** Hash family for MinHash signatures / SimHash fingerprints. */
  sealed trait HashFamily
  /** md5-derived values (32-char hex / top-bit signs) — cross-engine
    * verifiable: the DuckDB oracles recompute identical signatures. ~10-20x
    * the kernel cost of [[XxFamily]]; use only where a DuckDB-exact result
    * is required.
    */
  case object Md5Family extends HashFamily
  /** Seeded xxhash64 — codegen'd, allocation-free, the production default.
    * MinHash: sig[i] = min over shingles of xxhash64(i, shingle) (one 64-bit
    * word per hash vs 16 bytes + hex). SimHash: ONE xxhash64 per token
    * occurrence, fingerprint bits read from the digest's low 60 bits (vs 60
    * independent md5 digests per occurrence in oracle mode).
    */
  case object XxFamily extends HashFamily

  // ---- exact -----------------------------------------------------------

  /** Exact dedup on normalized content: returns (doc_id, canonical_id)
    * where canonical is the smallest doc_id sharing the fingerprint.
    */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame = {
    val fp = docs.select(col(idCol).as("doc_id"),
      graft.text.TextAnalysis.fingerprint(col(textCol)).as("fp"))
    val w = Window.partitionBy(col("fp"))
    fp.withColumn("canonical_id", min(col("doc_id")).over(w))
      .select(col("doc_id"), col("canonical_id"))
  }

  /** Only the surviving rows (canonical representatives). */
  def exactSurvivors(docs: DataFrame, idCol: String = "doc_id",
                     textCol: String = "text"): DataFrame =
    exact(docs, idCol, textCol)
      .filter(col("doc_id") === col("canonical_id")).select(col("doc_id"))

  // ---- word shingles ---------------------------------------------------

  /** (doc_id, shingle) distinct word n-grams per doc. */
  def shingles(docs: DataFrame, n: Int, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    val toks = graft.tokenize.PyTokenize.asciiSplit(lower(col(textCol)))
    // per-doc dedup is a pure function of the doc's own shingle array, so
    // it runs NARROWLY via array_distinct before the explode — the old
    // `.distinct()` after the explode shuffled every (doc_id, shingle) row
    // corpus-wide for the identical result (r7; guide §2.4)
    docs.select(col(idCol).as("doc_id"), toks.as("toks"))
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", slice(col("toks"), i + lit(1), lit(n)))))).as("shingle"))
  }

  /** n-gram Jaccard near-duplicate pairs (doc_a < doc_b, jaccard >= t).
    * Candidate generation joins docs sharing a RARE shingle (frequency cap
    * bounds the per-bucket fan-out); Jaccard is then computed exactly from
    * shingle-set sizes: |A∩B| from the join, |A∪B| = |A|+|B|-|A∩B|.
    *
    * @param hashedShingles production mode: shingle strings are collapsed
    *        to xxhash64 keys BEFORE the frequency count and self-join, so
    *        the heavy shuffles move 8-byte longs instead of n-gram strings
    *        (~4-8x smaller; at the 2M-page scale point the string form
    *        OOM-ed the sandbox while the hashed form completes). Collisions
    *        are negligible for Jaccard arithmetic (expected colliding
    *        shingle pairs ~ S^2/2^65; at S=10^9 distinct shingles that is
    *        ~0.03 affected intersections corpus-wide). The DuckDB-exact
    *        contract query keeps the default string mode.
    */
  def jaccardPairs(docs: DataFrame, n: Int, threshold: Double,
                   maxShingleFreq: Int = 1000,
                   idCol: String = "doc_id", textCol: String = "text",
                   hashedShingles: Boolean = false): DataFrame = {
    val shStr = shingles(docs, n, idCol, textCol)
    // NOT pinned: a localCheckpoint of the corpus-scale shingle table was
    // tried in r7 and REVERTED — at the 2M-page point the pinned rows
    // compete with execution memory and OOM the 8 GB default heap, while
    // the contract-scale gain was noise. The downstream lineages recompute
    // the narrow shingling pass instead (array_distinct dedup, no shuffle);
    // doc-LEVEL intermediates (minhash signatures) stay pinned — they are
    // corpus-row-count-sized, not shingle-count-sized.
    val sh =
      if (!hashedShingles) shStr
      else shStr.select(col("doc_id"), xxhash64(col("shingle")).as("shingle"))
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n_sh"))
    val rare = sh.join(
      sh.groupBy(col("shingle")).agg(count(lit(1)).as("freq"))
        .filter(col("freq") <= maxShingleFreq).select("shingle"),
      "shingle")
    val a = rare.select(col("shingle"), col("doc_id").as("doc_a"))
    val b = rare.select(col("shingle"), col("doc_id").as("doc_b"))
    val inter = a.join(b, Seq("shingle"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.withColumnRenamed("doc_id", "doc_a")
        .withColumnRenamed("n_sh", "n_a"), "doc_a")
      .join(sizes.withColumnRenamed("doc_id", "doc_b")
        .withColumnRenamed("n_sh", "n_b"), "doc_b")
      .withColumn("jaccard",
        col("n_inter").cast("double") /
          (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("jaccard"), 6).as("jaccard"))
  }

  // ---- MinHash + LSH ---------------------------------------------------

  /** MinHash signatures over the distinct shingle set: signature[i] =
    * min over shingles of hash_i(shingle).
    *
    * [[Md5Family]]: hash_i = md5("i|" + shingle) kept as the 32-char hex
    * string (lexicographic min == numeric min on fixed-width hex); the
    * DuckDB oracle recomputes these exactly. Returns (doc_id, ARRAY<STRING>).
    *
    * [[XxFamily]] (default): hash_i = xxhash64(i, shingle) — seeded by the
    * extra literal column, stays in whole-stage codegen, no string
    * materialization; signature bytes shrink 4x (8 vs 32 per position).
    * Signed-long min is a valid min-wise sample (the family is uniform over
    * the full 64-bit space, sign included). Returns (doc_id, ARRAY<BIGINT>).
    */
  def minhashSignatures(shinglesDf: DataFrame, numHashes: Int,
                        family: HashFamily = XxFamily): DataFrame = {
    val hashes = (0 until numHashes).map { i =>
      val h = family match {
        case Md5Family => md5(concat(lit(s"$i|"), col("shingle")))
        case XxFamily  => xxhash64(lit(i), col("shingle"))
      }
      min(h).as(s"h$i")
    }
    shinglesDf.groupBy(col("doc_id"))
      .agg(hashes.head, hashes.tail: _*)
      .select(col("doc_id"),
        array((0 until numHashes).map(i => col(s"h$i")): _*).as("sig"))
  }

  /** MinHash-LSH candidate pairs: signatures banded into `bands` groups of
    * rows; docs sharing any band bucket pair up. Returns
    * (doc_a, doc_b, est_jaccard) with est = fraction of equal signature
    * positions. Hot buckets capped like shingle buckets.
    */
  def minhashLshPairs(docs: DataFrame, shingleN: Int, numHashes: Int,
                      bands: Int, maxBucketSize: Int = 200,
                      idCol: String = "doc_id", textCol: String = "text",
                      family: HashFamily = XxFamily): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    // one signature row per doc (tiny at any corpus scale that fits an LSH
    // join); pinned via localCheckpoint because THREE downstream lineages
    // (banded join side, bucket-size counts, pair emission) would otherwise
    // each recompute the full shingle + numHashes-digest chain — the
    // dominant CPU of this operator in md5 oracle mode (r7)
    val sig = minhashSignatures(shingles(docs, shingleN, idCol, textCol),
      numHashes, family).localCheckpoint()
    // band bucket key: md5 over the joined hex strings in oracle mode (the
    // DuckDB oracle replicates it); xxhash64 over the band's sig slice
    // directly (hashes the array natively, no string build) in production
    val bucketOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column =
      family match {
        case Md5Family => b => md5(concat(b.cast("string"), lit("|"),
          concat_ws(",", slice(col("sig"), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))))).cast("string")
        case XxFamily => b => xxhash64(b,
          slice(col("sig"), b * lit(rowsPerBand) + lit(1), lit(rowsPerBand))).cast("string")
      }
    val banded = sig.select(col("doc_id"), col("sig"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)), bucketOf)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "bucket")
    val small = banded.join(
      banded.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= maxBucketSize).select("band", "bucket"),
      Seq("band", "bucket"))
    val a = small.select(col("band"), col("bucket"),
      col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = small.select(col("band"), col("bucket"),
      col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(filter(zip_with(col("sig_a"), col("sig_b"), (x, y) =>
          (x === y).cast("int")), v => v === 1)).cast("double")
          / lit(numHashes)).as("est_jaccard"))
      .distinct()
  }

  // ---- SimHash ---------------------------------------------------------

  /** SimHash width: 60 bits — 4 pigeonhole chunks of 15 bits, and every
    * `1L << b` stays in the positive signed-long range in BOTH engines
    * (the DuckDB oracle OR-folds the same shifts; bit 63 would overflow
    * its BIGINT shift).
    */
  val SimhashBits = 60

  /** 60-bit SimHash: bit b of the fingerprint is 1 iff the sum over token
    * OCCURRENCES of sign_b(token) is positive.
    *
    * [[Md5Family]]: sign_b is the top bit of md5("b|" + token) (first hex
    * char >= '8') — 60 independent md5 digests per occurrence, but the
    * DuckDB oracle recomputes fingerprints exactly.
    *
    * [[XxFamily]] (default): ONE xxhash64 digest per token occurrence,
    * sign_b read from bit b of that digest (the low 60 of 64 bits). Bits of
    * a single high-quality 64-bit hash are the standard SimHash construction
    * (Charikar '02 uses one hash per feature); this is a 60x hash-kernel
    * reduction vs oracle mode.
    *
    * Near-dups = fingerprints within `maxHamming` bits; candidates pair on
    * 15-bit fingerprint chunks (any chunk equal => candidate; catches all
    * pairs with hamming <= 3 by pigeonhole over 4 chunks).
    */
  def simhash(docs: DataFrame, idCol: String = "doc_id",
              textCol: String = "text",
              family: HashFamily = XxFamily): DataFrame = {
    val toks = graft.tokenize.PyTokenize.asciiSplit(lower(col(textCol)))
    val exploded = docs.select(col(idCol).as("doc_id"), explode(toks).as("tok"))
    val signed = family match {
      case Md5Family => exploded
      case XxFamily  => exploded.withColumn("h", xxhash64(col("tok")))
    }
    val bitSums = (0 until SimhashBits).map { b =>
      val isOne = family match {
        case Md5Family =>
          substring(md5(concat(lit(s"$b|"), col("tok"))), 1, 1) >= "8"
        case XxFamily =>
          // h is computed ONCE per row above; each bit test is a shift+mask
          shiftright(col("h"), b).bitwiseAND(lit(1L)) === 1L
      }
      sum(when(isOne, 1).otherwise(-1)).as(s"b$b")
    }
    signed.groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        (0 until SimhashBits).map(b =>
          when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce((x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
            x.bitwiseOR(y)).as("simhash"))
  }

  /** WIDE SimHash: 120 bits as ARRAY<BIGINT>[2] (60 bits per word, same
    * per-word layout as [[simhash]]), xx family only — each token
    * occurrence contributes sign bits from TWO seeded xxhash64 digests.
    *
    * Why it exists: [[simhashPairs]] pigeonholes hamming<=3 over 4 chunks
    * of 15 bits, so bucket keys span 2^15 values — at N docs the EXPECTED
    * bucket size is N/32768 regardless of content, and beyond ~10^6 docs
    * ordinary buckets blow the frequency cap by Poisson statistics alone
    * (measured at the 2M-page scale point: 73% of rows landed in
    * over-cap buckets). Chunk width must track log2(N): 120 bits / 4
    * chunks = 30-bit keys (2^30 values) keep expected bucket size ~1 out
    * to billions of docs while preserving the pigeonhole guarantee
    * (hamming<=3 over the full print => at least one of 4 chunks exactly
    * equal). This is the 100 TB operating point; the 60-bit form remains
    * for the DuckDB-verifiable oracle contract.
    */
  def simhashWide(docs: DataFrame, idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame = {
    val toks = graft.tokenize.PyTokenize.asciiSplit(lower(col(textCol)))
    val exploded = docs.select(col(idCol).as("doc_id"), explode(toks).as("tok"))
      .withColumn("h0", xxhash64(col("tok")))
      .withColumn("h1", xxhash64(lit(1), col("tok")))
    val aggs = Seq("h0", "h1").flatMap { hcol =>
      (0 until SimhashBits).map { b =>
        sum(when(shiftright(col(hcol), b).bitwiseAND(lit(1L)) === 1L, 1)
          .otherwise(-1)).as(s"${hcol}_b$b")
      }
    }
    def fold(hcol: String): org.apache.spark.sql.Column =
      (0 until SimhashBits).map(b =>
        when(col(s"${hcol}_b$b") > 0, lit(1L << b)).otherwise(0L))
        .reduce((x: org.apache.spark.sql.Column, y: org.apache.spark.sql.Column) =>
          x.bitwiseOR(y))
    exploded.groupBy(col("doc_id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), array(fold("h0"), fold("h1")).as("simhash"))
  }

  /** Near-dup pairs from [[simhashWide]] prints: 4 chunks of 30 bits
    * (words 0/1 x low/high 30 of each word's 60 used bits), bucket join
    * with the standard frequency cap, exact hamming re-check over the full
    * 120 bits. Catches all pairs with hamming <= 3 by pigeonhole.
    */
  def simhashPairsWide(docs: DataFrame, maxHamming: Int = 3,
                       maxBucketSize: Int = 200,
                       idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = simhashWide(docs, idCol, textCol)
    val chunkCols = (0 until 4).map { c =>
      val word = element_at(col("simhash"), c / 2 + 1)
      shiftright(word, (c % 2) * 30).bitwiseAND((1L << 30) - 1)
    }
    val chunked = sh.select(col("doc_id"), col("simhash"),
      posexplode(array(chunkCols: _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")
    val small = chunked.join(
      chunked.groupBy(col("chunk"), col("ckey")).agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= maxBucketSize).select("chunk", "ckey"),
      Seq("chunk", "ckey"))
    val a = small.select(col("chunk"), col("ckey"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = small.select(col("chunk"), col("ckey"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (bit_count(element_at(col("sh_a"), 1).bitwiseXOR(element_at(col("sh_b"), 1))) +
          bit_count(element_at(col("sh_a"), 2).bitwiseXOR(element_at(col("sh_b"), 2))))
          .as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /** Candidate near-dup pairs by 15-bit chunk collision + exact hamming
    * filter. Returns (doc_a, doc_b, hamming <= maxHamming).
    */
  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   maxBucketSize: Int = 200,
                   idCol: String = "doc_id", textCol: String = "text",
                   family: HashFamily = XxFamily): DataFrame = {
    val sh = simhash(docs, idCol, textCol, family)
    val chunked = sh.select(col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c =>
        shiftright(col("simhash"), c * 15).bitwiseAND(0x7FFFL)): _*)))
      .withColumnRenamed("pos", "chunk").withColumnRenamed("col", "ckey")
    val small = chunked.join(
      chunked.groupBy(col("chunk"), col("ckey")).agg(count(lit(1)).as("bsz"))
        .filter(col("bsz") <= maxBucketSize).select("chunk", "ckey"),
      Seq("chunk", "ckey"))
    val a = small.select(col("chunk"), col("ckey"),
      col("doc_id").as("doc_a"), col("simhash").as("sh_a"))
    val b = small.select(col("chunk"), col("ckey"),
      col("doc_id").as("doc_b"), col("simhash").as("sh_b"))
    a.join(b, Seq("chunk", "ckey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  // ---- pair graph -> clusters -> canonical survivors -------------------

  /** Connected components over a near-dup PAIR graph — the step that turns
    * any pair family above into the dedup OUTPUT a training pipeline needs
    * (clusters + one canonical doc per cluster; the reference's
    * `list(set(corpus))` at `pipelines/build_hn.py:105-107` is the
    * degenerate exact form, mirrored by [[exactSurvivors]]).
    *
    * Algorithm: alternating large-star / small-star (Kiveris et al.,
    * "Connected Components in MapReduce and Beyond") — each round is two
    * groupBy-min + join passes over the EDGE SET ONLY (no adjacency lists
    * collected, no driver-side graph, no vertex state), converging in
    * O(log^2 n) rounds to star graphs whose center is the component
    * minimum. Edge volume never grows above the input edge count (stars
    * only shrink), so at 100 TB the cost is bounded by a handful of
    * shuffles over the pair table — which the frequency-capped candidate
    * generation already bounded.
    *
    * Input: (doc_a, doc_b) pairs (extra columns ignored). Output:
    * (doc_id, component_id) for every doc APPEARING IN A PAIR, where
    * component_id is the smallest doc_id of its component. Docs with no
    * pairs are absent (singletons — callers union them back; see
    * [[nearDupLabels]]).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    var edges = pairs
      .select(col("doc_a").cast("long").as("u"), col("doc_b").cast("long").as("v"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("u"),
        greatest(col("u"), col("v")).as("v"))
      .distinct()
      .localCheckpoint()
    val members = edges.select(col("u").as("doc_id"))
      .union(edges.select(col("v").as("doc_id"))).distinct()
      .localCheckpoint() // pinned: the final label join reuses it

    var converged = edges.isEmpty
    var iter = 0
    // checksum-based convergence: (count, xor of edge hashes) is stable
    // iff the canonical edge set is (order-free, overflow-free, one tiny
    // agg per round)
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(u, v))"), lit(0L))).first()
      (r.getLong(0), r.getLong(1))
    }
    var prev = if (converged) (0L, 0L) else checksum(edges)
    while (!converged && iter < maxIter) {
      // LARGE-STAR: for each node u (both directions), connect every
      // LARGER neighbor to the minimum of u's neighborhood (incl. u)
      val und = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val mins = und.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val afterLarge = und.filter(col("v") > col("u"))
        .join(mins, "u")
        .filter(col("v") =!= col("m"))
        .select(least(col("v"), col("m")).as("u"),
          greatest(col("v"), col("m")).as("v"))
        .distinct()
      // SMALL-STAR: for each node u, connect u and all its SMALLER
      // neighbors to the smallest of them
      val dirSmall = afterLarge
        .union(afterLarge.select(col("v").as("u"), col("u").as("v")))
        .filter(col("v") < col("u"))
      val smallMins = dirSmall.groupBy(col("u")).agg(min(col("v")).as("m"))
      val afterSmall = dirSmall.join(smallMins, "u")
        .select(col("v"), col("m"))
        .union(smallMins.select(col("u").as("v"), col("m")))
        .filter(col("v") =!= col("m"))
        .select(col("m").as("u"), col("v"))
        .distinct()
        .localCheckpoint() // truncate lineage every round
      val cur = checksum(afterSmall)
      converged = cur == prev
      prev = cur
      edges = afterSmall
      iter += 1
    }
    require(converged, s"connectedComponents: not converged after $maxIter " +
      "rounds — pathological pair graph (raise maxIter)")
    // star edges are (center=min, member); centers label themselves
    val labels = edges.select(col("v").as("doc_id"), col("u").as("component_id"))
    members.join(labels, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("component_id"))
  }

  /** (doc_id, component_id, is_survivor) for EVERY doc in `docs`:
    * singletons label themselves, the canonical survivor of each cluster
    * is its smallest doc_id — composable with ANY pair source
    * ([[jaccardPairs]], [[minhashLshPairs]], [[simhashPairs]],
    * [[embeddingCosinePairs]], or a union of them).
    */
  def nearDupLabels(docs: DataFrame, pairs: DataFrame,
                    idCol: String = "doc_id"): DataFrame = {
    val comp = connectedComponents(pairs)
    docs.select(col(idCol).cast("long").as("doc_id"))
      .join(comp, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component_id"), col("doc_id")).as("component_id"))
      .withColumn("is_survivor", col("doc_id") === col("component_id"))
  }

  /** Canonical survivors only — the deduplicated corpus id set. */
  def nearDupSurvivors(docs: DataFrame, pairs: DataFrame,
                       idCol: String = "doc_id"): DataFrame =
    nearDupLabels(docs, pairs, idCol)
      .filter(col("is_survivor")).select(col("doc_id"))

  // ---- embedding cosine ------------------------------------------------

  /** Sign-LSH bucket width that tracks corpus size (the [[simhashWide]]
    * precedent for chunk keys): expected bucket size N / 2^bits stays ~16
    * regardless of N, so the candidate join's per-bucket fan-out is flat
    * out to billions of vectors instead of growing linearly as a fixed
    * width would. Clamped to [8, 30].
    */
  private[graft] def signLshBits(n: Long): Int = {
    val target = 16.0
    val raw = math.ceil(math.log(math.max(1L, n).toDouble / target) / math.log(2.0)).toInt
    math.min(30, math.max(8, raw))
  }

  /** (vec_id, vec, tbl, bucket) — one row per (vector, hash table), bucket =
    * that table's sign-LSH key. Shared by [[embeddingCosinePairs]] and the
    * bench's drop accounting so both see the identical bucketing.
    */
  private[graft] def embeddingLshBuckets(v: DataFrame, bits: Int,
                                         numTables: Int): DataFrame =
    v.select(col("vec_id"), col("vec"),
      posexplode(array((0 until numTables).map(t =>
        graft.ann.Ann.signLshBucket(col("vec"), bits, 42 + t)): _*)))
      .withColumnRenamed("pos", "tbl").withColumnRenamed("col", "bucket")

  /** Embedding near-dup pairs: cosine >= threshold. Candidates via
    * multi-table sign-LSH (random-hyperplane bit buckets from seeded
    * xxhash64 pseudo-planes) to avoid the quadratic pair space; exact
    * cosine re-check on candidates. For corpora small enough,
    * `bruteForce = true` skips bucketing.
    *
    * Scale contract (same treatment as every other candidate family here):
    *  - `bits` defaults to [[signLshBits]](N) — the key space tracks
    *    log2(N) so expected bucket size stays ~16 at any corpus size (a
    *    fixed width would put N/2^bits vectors in every bucket and the
    *    join would go quadratic at 10^7+ docs);
    *  - hot buckets (near-zero vectors, template embeddings) are DROPPED by
    *    the `maxBucketSize` frequency cap exactly like the shingle / band /
    *    chunk joins — a single skewed bucket can no longer explode the
    *    self-join (the bench publishes how much the cap dropped);
    *  - `numTables` independent hash tables recover the recall that wider
    *    keys cost: a pair at angle theta collides in one table with
    *    p = (1 - theta/pi)^bits, overall recall = 1-(1-p)^numTables —
    *    at cosine 0.99 and bits=20 that is ~0.98 with the default 8 tables
    *    (near-dup thresholds live in the >=0.9 cosine regime; raise
    *    numTables for lower thresholds).
    */
  def embeddingCosinePairs(emb: DataFrame, threshold: Double,
                           bruteForce: Boolean = false,
                           idCol: String = "vec_id", vecCol: String = "embedding",
                           maxBucketSize: Int = 200,
                           numTables: Int = 8,
                           bits: Int = 0): DataFrame = {
    val v = emb.select(col(idCol).cast("long").as("vec_id"),
      col(vecCol).cast("array<double>").as("vec"))
    val candidates =
      if (bruteForce) {
        val a = v.select(col("vec_id").as("doc_a"), col("vec").as("vec_a"))
        val b = v.select(col("vec_id").as("doc_b"), col("vec").as("vec_b"))
        a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      } else {
        // one narrow count fixes the key width; the LSH path is multi-pass
        // anyway and the count is column-pruned
        val useBits = if (bits > 0) bits else signLshBits(v.count())
        val bucketed = embeddingLshBuckets(v, useBits, numTables)
        val small = bucketed.join(
          bucketed.groupBy(col("tbl"), col("bucket"))
            .agg(count(lit(1)).as("bsz"))
            .filter(col("bsz") <= maxBucketSize).select("tbl", "bucket"),
          Seq("tbl", "bucket"))
        val a = small.select(col("tbl"), col("bucket"),
          col("vec_id").as("doc_a"), col("vec").as("vec_a"))
        val b = small.select(col("tbl"), col("bucket"),
          col("vec_id").as("doc_b"), col("vec").as("vec_b"))
        a.join(b, Seq("tbl", "bucket")).filter(col("doc_a") < col("doc_b"))
          .drop("tbl", "bucket").distinct()
      }
    candidates
      .withColumn("cos", graft.ann.Ann.cosine(col("vec_a"), col("vec_b")))
      .filter(col("cos") >= threshold)
      .select(col("doc_a"), col("doc_b"), round(col("cos"), 6).as("cos"))
  }
}
