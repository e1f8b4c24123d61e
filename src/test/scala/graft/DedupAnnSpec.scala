package graft

import graft.dedup.Dedup
import graft.ann.Ann
import graft.text.TextAnalysis
import org.apache.spark.sql.functions._

/** Dedup + similarity-search operator semantics on hand-built fixtures. */
class DedupAnnSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup groups whitespace/case-normalized duplicates") {
    val docs = Seq(
      (0L, "Hello  World"), (1L, "hello world"), (2L, "different text"),
      (3L, "  HELLO\tWORLD  "), (4L, "different text")).toDF("doc_id", "text")
    val got = Dedup.exact(docs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got(0L) == 0L && got(1L) == 0L && got(3L) == 0L)
    assert(got(2L) == 2L && got(4L) == 2L)
    val survivors = Dedup.exactSurvivors(docs).as[Long].collect().sorted
    assert(survivors.toSeq == Seq(0L, 2L))
  }

  test("jaccard pairs computes exact shingle-set jaccard") {
    val docs = Seq(
      (0L, "a b c d e"),   // shingles(3): {abc, bcd, cde}
      (1L, "a b c d x"),   // {abc, bcd, cdx}  -> inter 2, union 4 -> 0.5
      (2L, "z z z z z"))   // {zzz} distinct
      .toDF("doc_id", "text")
    val got = Dedup.jaccardPairs(docs, n = 3, threshold = 0.4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.length == 1)
    assert(got(0)._1 == 0L && got(0)._2 == 1L && math.abs(got(0)._3 - 0.5) < 1e-9)
  }

  private val families = Seq(Dedup.Md5Family, Dedup.XxFamily)

  test("minhash-LSH finds high-jaccard pairs and skips disjoint docs (both families)") {
    val base = (0 until 30).map(i => s"w$i").mkString(" ")
    val nearDup = (0 until 30).map(i => if (i == 7) "CHANGED" else s"w$i").mkString(" ")
    val disjoint = (100 until 130).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, disjoint)).toDF("doc_id", "text")
    families.foreach { fam =>
      val got = Dedup.minhashLshPairs(docs, shingleN = 2, numHashes = 16,
        bands = 8, family = fam)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      assert(got.exists(p => p._1 == 0L && p._2 == 1L && p._3 > 0.5),
        s"$fam: near-dup pair not found: ${got.mkString(",")}")
      assert(!got.exists(p => p._2 == 2L || p._1 == 2L), s"$fam")
    }
  }

  test("simhash: identical docs equal, near docs close, disjoint docs far (both families)") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val near = (0 until 40).map(i => if (i == 3) "x" else s"tok$i").mkString(" ")
    val far = (200 until 240).map(i => s"tok$i").mkString(" ")
    val docs = Seq((0L, base), (1L, base), (2L, near), (3L, far)).toDF("doc_id", "text")
    families.foreach { fam =>
      val sh = Dedup.simhash(docs, family = fam).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
      assert(ham(sh(0L), sh(1L)) == 0, s"$fam")
      assert(ham(sh(0L), sh(2L)) < ham(sh(0L), sh(3L)), s"$fam")
      val pairs = Dedup.simhashPairs(docs, maxHamming = 3, family = fam)
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(pairs.contains((0L, 1L)), s"$fam")
    }
  }

  test("minhash estimate tracks exact jaccard (estimator golden, both families)") {
    // doc k shares 40-2k of its 40 tokens with doc 0 -> graded true jaccard
    val docs = (0 until 8).map { k =>
      val toks = (0 until 40).map(i => if (i < 2 * k) s"sub${k}_$i" else s"w$i")
      (k.toLong, toks.mkString(" "))
    }.toDF("doc_id", "text")
    val sh = Dedup.shingles(docs, n = 2)
    // exact jaccard of doc 0 vs k from shingle sets
    val sets = sh.collect().groupBy(_.getLong(0))
      .map { case (d, rs) => d -> rs.map(_.getString(1)).toSet }
    families.foreach { fam =>
      // 64 hashes -> estimator std ~ sqrt(j(1-j)/64) <= 0.0625
      val sigs = Dedup.minhashSignatures(sh, numHashes = 64, family = fam)
        .collect().map(r => r.getLong(0) -> r.getSeq[Any](1)).toMap
      (1 until 8).foreach { k =>
        val a = sets(0L); val b = sets(k.toLong)
        val exact = (a & b).size.toDouble / (a | b).size
        val est = sigs(0L).zip(sigs(k.toLong)).count { case (x, y) => x == y } / 64.0
        assert(math.abs(est - exact) <= 0.25,
          s"$fam doc 0 vs $k: est $est vs exact $exact")
      }
    }
  }

  test("simhash hamming scales with dissimilarity (estimator golden, both families)") {
    val base = (0 until 60).map(i => s"tok$i").mkString(" ")
    def mutate(k: Int) =
      (0 until 60).map(i => if (i < k) s"chg$i" else s"tok$i").mkString(" ")
    val docs = Seq((0L, base), (1L, mutate(1)), (2L, mutate(10)),
      (3L, mutate(30)), (4L, (500 until 560).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    families.foreach { fam =>
      val sh = Dedup.simhash(docs, family = fam).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def ham(a: Long, b: Long) = java.lang.Long.bitCount(sh(a) ^ sh(b))
      assert(ham(0L, 1L) <= ham(0L, 2L), s"$fam")
      assert(ham(0L, 2L) < ham(0L, 3L), s"$fam")
      assert(ham(0L, 3L) <= ham(0L, 4L) + 8, s"$fam") // heavy mutation approaches independent
      // independent 60-bit fingerprints (SimhashBits=60): hamming ~
      // Binomial(60, 0.5), mean 30, std ~3.9 -> [16,48] is a >4-sigma band
      assert(ham(0L, 4L) >= 16 && ham(0L, 4L) <= 48, s"$fam disjoint hamming ${ham(0L, 4L)}")
      assert(ham(0L, 1L) <= 12, s"$fam near-dup hamming ${ham(0L, 1L)}")
    }
  }

  test("brute-force cosine top-k is exact and deterministically tie-broken") {
    val corpus = Seq(
      (0L, Seq(1.0f, 0.0f)), (1L, Seq(0.0f, 1.0f)),
      (2L, Seq(1.0f, 1.0f)), (3L, Seq(-1.0f, 0.0f)),
      (4L, Seq(1.0f, 0.0f))) // identical direction to 0 -> tie with doc 0
      .toDF("vec_id", "vec")
    val queries = Seq((9L, Seq(1.0f, 0.0f))).toDF("query_id", "qvec")
    val got = Ann.bruteForceTopK(queries, corpus, k = 4).collect()
      .sortBy(_.getAs[Int]("rank"))
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Double]("cos")))
    assert(got.map(_._1).toSeq == Seq(0L, 4L, 2L, 1L)) // tie 0 vs 4 -> id asc
    assert(math.abs(got(0)._2 - 1.0) < 1e-12)
    assert(math.abs(got(2)._2 - math.sqrt(0.5)) < 1e-12)
  }

  test("IVF top-k recall vs brute force is high at moderate nProbe") {
    val rnd = new scala.util.Random(5)
    val corpus = (0 until 400).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("vec_id", "vec")
    val queries = (0 until 5).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian().toFloat))
    }.toDF("query_id", "qvec")
    val exact = Ann.bruteForceTopK(queries, corpus, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    def recallWith(centroids: org.apache.spark.sql.DataFrame): Double = {
      val withCell = Ann.assignCells(corpus, centroids)
      val approx = Ann.ivfTopK(queries, withCell, centroids, 10, nProbe = 4)
        .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
      (exact & approx).size.toDouble / exact.size
    }
    val seed = Ann.seedCentroids(corpus.select(col("vec_id"), col("vec")), nCells = 8)
    val rSeed = recallWith(seed)
    val rLloyd = recallWith(Ann.lloyd(corpus, seed, iters = 3))
    assert(rSeed >= 0.5, s"IVF recall (seed centroids) too low: $rSeed")
    assert(rLloyd >= 0.6, s"IVF recall (lloyd centroids) too low: $rLloyd")
  }

  test("assignCells: literal and broadcast-kernel paths agree bit-for-bit") {
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 300).map { i =>
      (i.toLong, Seq.fill(16)(rnd.nextGaussian()))
    }.toDF("vec_id", "vec")
    val centList = (0 until 64).map { c =>
      (c.toLong, Seq.fill(16)(rnd.nextGaussian()))
    }
    val cents = centList.toDF("cell_id", "cvec")
    // oracle: the centroid table as array LITERALS folded per row through
    // Ann.cosine — same scan order and strictly-greater tie-break as the
    // broadcast kernel, so the two must agree bit for bit
    val cids = typedLit(centList.map(_._1))
    val cvecs = typedLit(centList.map(_._2))
    val best = aggregate(
      sequence(lit(0), lit(centList.length - 1)),
      struct(lit(-2.0).as("c"), lit(Long.MaxValue).as("id")),
      (acc, i) => {
        val cc = Ann.cosine(col("vec"), element_at(cvecs, i + 1))
        when(cc > acc.getField("c"),
          struct(cc.as("c"), element_at(cids, i + 1).as("id"))).otherwise(acc)
      })
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("cell_id")).toMap
    val viaLiteral = cells(corpus.withColumn("cell_id", best.getField("id")))
    val viaKernel = cells(Ann.assignCells(corpus, cents))
    assert(viaLiteral == viaKernel)
    assert(viaLiteral.values.toSet.size > 1) // sanity: not all one cell
  }

  test("wide simhash: word 0 == 60-bit xx simhash; dup/near-dup pairing works") {
    // near-dup needs token-count dominance (simhash hamming<=3 means
    // ~99.9% token overlap; tiny docs flip half the bits on any edit).
    // Construction guarantees detection deterministically: 31 DISTINCT
    // tokens (odd) x10 occurrences -> every bit's sign-sum is 10*(odd
    // integer), so |sum| >= 10 and ONE extra occurrence (shift +-1) can
    // never flip a bit — doc 2's print provably equals doc 0's.
    val base = (0 until 31).flatMap(i => Seq.fill(10)(s"tok$i")).mkString(" ")
    val docs = Seq(
      (0L, base),
      (1L, base),                       // exact dup of 0
      (2L, base + " extraword"),        // near dup (+1 occurrence of 311)
      (3L, (0 until 40).map(i => s"other$i").mkString(" ")),
      (4L, (0 until 40).map(i => s"unrel$i").mkString(" ")))
      .toDF("doc_id", "text")
    // word 0 of the wide print uses the SAME per-token digest as the 60-bit
    // xx fingerprint — parity pins the construction
    val narrow = Dedup.simhash(docs, family = Dedup.XxFamily)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val wide = Dedup.simhashWide(docs)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    narrow.foreach { case (id, fp) =>
      assert(wide(id).head == fp, s"doc $id: wide word0 != narrow simhash")
      assert(wide(id).length == 2)
    }
    val pairs = Dedup.simhashPairsWide(docs, maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1),
        r.getAs[Number](2).longValue()))
    val asMap = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(asMap.get((0L, 1L)).contains(0L), s"exact dup pair missing: $pairs")
    assert(asMap.get((0L, 2L)).contains(0L), // provably hamming 0, see above
      s"near-dup pair missing: $pairs")
    // unrelated docs must not pair at the tight threshold
    assert(!pairs.exists { case (a, b, _) =>
      Set(a, b).contains(3L) || Set(a, b).contains(4L) })
  }

  test("contract IVF operating point (nProbe=12/16, iters=4) holds >= 0.9 recall") {
    // gates the EXACT configuration q_ann_ivf_topk ships (same corpus,
    // same parameters) so a Lloyd/assignment regression that drops the
    // driver-visible recall is caught in CI, not in the round artifact
    val emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val corpus = emb.select(col("vec_id"), col("embedding").as("vec"))
    val queries = emb.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val cents = Ann.lloyd(corpus, Ann.seedCentroids(corpus, nCells = 16), iters = 4)
    val withCell = Ann.assignCells(corpus, cents)
    val exact = Ann.bruteForceTopK(queries, corpus, 10).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val approx = Ann.ivfTopK(queries, withCell, cents, 10, nProbe = 12).collect()
      .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.9, s"contract operating-point recall regressed: $recall")
  }

  test("IVF on separable clusters: recall >= 0.9 scanning a small fraction") {
    // the q_ann_ivf contract corpus is near-isotropic noise (recall there is
    // intrinsically scan-bound); this fixture has REAL cluster structure and
    // pins that the engine reaches high recall at low scanned fraction when
    // the data supports it — the property a 100 TB IVF deployment relies on
    val rnd = new scala.util.Random(7)
    val dim = 32
    val centers = Array.fill(10)(Array.fill(dim)(rnd.nextGaussian() * 5.0))
    def jitter(c: Array[Double]) =
      c.toSeq.map(v => (v + rnd.nextGaussian() * 0.3).toFloat)
    val corpus = (0 until 600).map(i => (i.toLong, jitter(centers(i % 10))))
      .toDF("vec_id", "vec")
    val queries = (0 until 5).map(i => (i.toLong, jitter(centers(i))))
      .toDF("query_id", "qvec")
    val exact = Ann.bruteForceTopK(queries, corpus, 10)
    val cents = Ann.lloyd(corpus, Ann.seedCentroids(corpus, nCells = 16), iters = 4)
    val withCell = Ann.assignCells(corpus, cents)
    val sweep = Ann.ivfSweep(queries, withCell, cents, exact, 10,
      Seq(1, 2, 3, 4, 8, 16)).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2)))
    val (np3, recall3, scanned3) = sweep(2)
    assert(np3 == 3)
    assert(recall3 >= 0.9, s"clustered-data recall at nProbe=3: $recall3")
    assert(scanned3 <= 0.25, s"scanned fraction at nProbe=3: $scanned3")
    // recall is monotone in nProbe and exact at full probe (== brute force)
    val recalls = sweep.map(_._2)
    assert(recalls.zip(recalls.tail).forall { case (a, b) => b >= a - 1e-12 },
      s"recall not monotone: ${recalls.toSeq}")
    assert(recalls.last == 1.0, "full-probe IVF must equal brute force")
    assert(sweep.last._3 == 1.0)
  }

  test("assignCells at 4096 cells x 64 dims stays on the kernel path and completes") {
    val rnd = new scala.util.Random(13)
    val corpus = (0 until 50).map { i =>
      (i.toLong, Seq.fill(64)(rnd.nextGaussian()))
    }.toDF("vec_id", "vec")
    val cents = (0 until 4096).map { c =>
      (c.toLong, Seq.fill(64)(rnd.nextGaussian()))
    }.toDF("cell_id", "cvec")
    // broadcast kernel: a typedLit plan here would embed 262k doubles into
    // the expression tree (the Catalyst codegen hazard the kernel avoids)
    val assigned = Ann.assignCells(corpus, cents)
    val plan = assigned.queryExecution.executedPlan.toString
    assert(!plan.contains("-2.0"), "literal fold leaked into the 4k-cell plan")
    val rows = assigned.collect()
    assert(rows.length == 50)
    assert(rows.forall { r =>
      val c = r.getAs[Long]("cell_id"); c >= 0 && c < 4096
    })
  }

  test("embedding near-dup LSH path: high recall vs brute force on dup clusters") {
    val rnd = new scala.util.Random(3)
    val dim = 16
    // 15 dup groups of 3 near-identical vectors + 100 background vectors
    val groups = Array.fill(15)(Array.fill(dim)(rnd.nextGaussian()))
    def nearly(c: Array[Double]) = c.toSeq.map(v => v + rnd.nextGaussian() * 0.01)
    val rows = (0 until 45).map { i => (i.toLong, nearly(groups(i / 3))) } ++
      (45 until 145).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
    val emb = rows.toDF("vec_id", "embedding")
    val exact = Dedup.embeddingCosinePairs(emb, threshold = 0.99, bruteForce = true)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.size >= 40, s"fixture sanity: ${exact.size} true pairs")
    val lsh = Dedup.embeddingCosinePairs(emb, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh.subsetOf(exact), "LSH path must never invent pairs (exact re-check)")
    val recall = (lsh & exact).size.toDouble / exact.size
    assert(recall >= 0.9, s"LSH near-dup recall too low: $recall")
  }

  test("embedding near-dup LSH path: hot buckets are dropped by the frequency cap") {
    val rnd = new scala.util.Random(4)
    val dim = 16
    val hot = Array.fill(dim)(rnd.nextGaussian())
    // 50 identical-direction vectors land in ONE bucket in every table;
    // cap 10 drops that bucket everywhere -> no pairs survive from the hot
    // group, while a small 3-vector group still pairs
    val small = Array.fill(dim)(rnd.nextGaussian())
    val rows = (0 until 50).map(i => (i.toLong, hot.toSeq)) ++
      (50 until 53).map(i => (i.toLong, small.toSeq))
    val emb = rows.toDF("vec_id", "embedding")
    val got = Dedup.embeddingCosinePairs(emb, threshold = 0.99,
      maxBucketSize = 10, bits = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!got.exists { case (a, b) => a < 50 || b < 50 },
      s"hot-bucket pairs leaked past the cap: $got")
    assert(got == Set((50L, 51L), (50L, 52L), (51L, 52L)),
      s"small group must still pair: $got")
  }

  test("signLshBits tracks log2(N) with clamps") {
    assert(Dedup.signLshBits(100L) == 8)          // clamp floor
    assert(Dedup.signLshBits(16L << 20) == 20)    // 16M/16 = 2^20
    assert(Dedup.signLshBits(Long.MaxValue / 4) == 30) // clamp ceiling
    assert(Dedup.signLshBits(2000000L) == 17)     // the 2M bench point
  }

  test("language id picks dominant stopword language") {
    val docs = Seq(
      (0L, "the cat is in the house and it is warm"),
      (1L, "der hund ist nicht zu hause und das ist gut"),
      (2L, "xyzzy plugh qwerty")).toDF("doc_id", "text")
    val got = docs.select(col("doc_id"), TextAnalysis.langId(col("text")).as("l"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got(0L) == "en" && got(1L) == "de" && got(2L) == "und")
  }

  test("connected components: path, star, multi-component, empty") {
    import spark.implicits._
    def cc(pairs: Seq[(Long, Long)]): Map[Long, Long] =
      graft.dedup.Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // path 5-4-3-2-1-0 (worst case for naive propagation)
    assert(cc((1L to 5L).map(i => (i, i - 1))) ==
      (0L to 5L).map(_ -> 0L).toMap)
    // star centered high, plus a separate triangle and a pair
    val got = cc(Seq((10L, 11L), (10L, 12L), (10L, 13L),
      (2L, 3L), (3L, 4L), (2L, 4L), (7L, 8L)))
    assert(got == Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 10L,
      2L -> 2L, 3L -> 2L, 4L -> 2L, 7L -> 7L, 8L -> 7L))
    // self-pairs and duplicates are ignored; empty graph yields empty
    assert(cc(Seq((5L, 5L))) == Map.empty[Long, Long])
    assert(cc(Seq.empty[(Long, Long)]) == Map.empty[Long, Long])
  }

  test("connected components match a union-find reference on a random graph") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val n = 300
    val pairs = Seq.fill(250)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    // reference: driver-side union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val touched = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val want = touched.map(d => d -> {
      // component min = min over members sharing the root
      val root = find(d.toInt)
      (0 until n).filter(i => find(i) == root)
        .filter(i => touched.contains(i.toLong)).min.toLong
    }).toMap
    val got = graft.dedup.Dedup.connectedComponents(pairs.toDF("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("nearDupLabels/Survivors: singletons self-label; exact-pair source reproduces exactSurvivors") {
    import spark.implicits._
    val docs = Seq(
      (0L, "alpha beta gamma delta"),
      (1L, "  ALPHA beta   gamma delta "), // exact dup of 0 after normalize
      (2L, "unrelated content entirely"),
      (3L, "alpha beta gamma delta"),      // dup of 0 and 1
      (4L, "another loner document here")).toDF("doc_id", "text")
    val exactPairs = graft.dedup.Dedup.exact(docs)
      .filter(col("doc_id") =!= col("canonical_id"))
      .select(col("canonical_id").as("doc_a"), col("doc_id").as("doc_b"))
    val labels = graft.dedup.Dedup.nearDupLabels(docs, exactPairs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    assert(labels == Set((0L, 0L, true), (1L, 0L, false), (2L, 2L, true),
      (3L, 0L, false), (4L, 4L, true)))
    val survivors = graft.dedup.Dedup.nearDupSurvivors(docs, exactPairs)
      .collect().map(_.getLong(0)).toSet
    assert(survivors ==
      graft.dedup.Dedup.exactSurvivors(docs).collect().map(_.getLong(0)).toSet)
  }
}
