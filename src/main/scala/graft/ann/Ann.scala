package graft.ann

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Similarity search over embedding columns (ARRAY<FLOAT|DOUBLE>).
  *
  * Reference analogues: cosine top-k (`models/retrieval_auto.py:195-222,
  * 236-276`), faiss flat/IVF search (`:284-347`). Spark-first shapes:
  *   - brute-force: query-batch broadcast cross join + per-query top-k
  *     window — the exact baseline, O(nq * N) but embarrassingly parallel
  *     (the corpus side never shuffles; each partition scores its slice and
  *     the per-query merge moves only nq*k rows);
  *   - IVF-style: coarse centroids assign each vector to a cell (bucket);
  *     queries probe their nearest cells only — the 100TB path;
  *   - sign-LSH bucketing for near-dup candidate generation.
  * All arithmetic in double; dot products via zip_with/aggregate
  * (codegen'd, no UDF).
  */
object Ann {

  /** Cosine similarity of two ARRAY<DOUBLE> columns (0 when either norm
    * is 0). Left-to-right summation, deterministic.
    */
  def cosine(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)
    val na = sqrt(aggregate(a, lit(0.0), (s, v) => s + v * v))
    val nb = sqrt(aggregate(b, lit(0.0), (s, v) => s + v * v))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(0.0)
  }

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (s, v) => s + v)

  /** Sign-LSH bucket: `bits` pseudo-random hyperplanes; plane p's
    * coefficient for dimension i is a deterministic ±1/±0.5 derived from
    * xxhash64(p, i, seed). Bucket = bit-packed signs. Used for near-dup
    * candidate generation (not exact search).
    */
  def signLshBucket(vec: Column, bits: Int, seed: Int): Column = {
    val planes = (0 until bits).map { p =>
      // deterministic pseudo-plane: coef(i) in {-1, -0.5, +0.5, +1}
      val proj = aggregate(
        zip_with(vec,
          transform(sequence(lit(0), size(vec) - 1),
            i => (pmod(xxhash64(lit(p), i, lit(seed)), lit(4)) - lit(1.5)) / lit(1.5)),
          (x, c) => x * c),
        lit(0.0), (s, v) => s + v)
      when(proj > 0, lit(1L << p)).otherwise(0L)
    }
    planes.reduce((a: Column, b: Column) => a.bitwiseOR(b))
  }

  /** Exact cosine between two JVM arrays with the SAME floating-point
    * association order as [[cosine]] (left-to-right folds starting at 0.0)
    * so kernel and column-expression paths are bit-identical.
    */
  private[graft] def cosineArr(a: Array[Double], b: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) { dot += a(i) * b(i); i += 1 }
    i = 0
    while (i < a.length) { na += a(i) * a(i); i += 1 }
    i = 0
    while (i < b.length) { nb += b(i) * b(i); i += 1 }
    val sa = math.sqrt(na); val sb = math.sqrt(nb)
    if (sa > 0 && sb > 0) dot / (sa * sb) else 0.0
  }

  /** Brute-force cosine top-k: for each query vector, the k nearest corpus
    * vectors by cosine (ties: smaller corpus id first). Exact baseline with
    * the scale-correct physical shape: the query batch is broadcast to the
    * heap kernel ([[heapTopK]], every vector in one cell probed by every
    * query), so the corpus itself never shuffles.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    require(k > 0, s"bruteForceTopK: k must be positive (got $k)")
    val qArr = queries
      .select(col("query_id").cast("long"), col("qvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
    heapTopK(corpus.withColumn("cell_id", lit(0L)), Map(0L -> qArr), k)
  }

  /** Each query's `nProbe` nearest cells: (query_id, qvec, cell_id). The
    * probe-selection half of [[ivfTopK]], exposed so quality/cost sweeps
    * ([[ivfSweep]]) can account scanned vectors without re-deriving it.
    */
  def probeCells(queries: DataFrame, centroids: DataFrame,
                 nProbe: Int): DataFrame = {
    val q = queries.select(col("query_id").cast("long"),
      col("qvec").cast("array<double>").as("qvec"))
    val qCells = q.join(broadcast(centroids))
      .withColumn("ccos", cosine(col("qvec"), col("cvec")))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cell_id").asc)
    qCells.withColumn("r", row_number().over(wq))
      .filter(col("r") <= nProbe)
      .select(col("query_id"), col("qvec"), col("cell_id"))
  }

  /** IVF-style top-k: corpus vectors are assigned to their nearest of
    * `centroids` (a small broadcastable table (cell_id, cvec)); each query
    * probes its `nProbe` nearest cells and scores only those cells' vectors.
    * Approximate (recall grows with nProbe); the 100TB-scale path — the
    * corpus shuffle is once at index time (partition by cell), queries touch
    * nProbe/|cells| of the data.
    */
  def ivfTopK(queries: DataFrame, corpusWithCell: DataFrame,
              centroids: DataFrame, k: Int, nProbe: Int): DataFrame =
    // routed through the heap kernel (result-identical to the join+window
    // plan — see [[ivfTopKKernel]]; it degrades to [[ivfTopKWithProbes]]
    // itself when the probe set exceeds the broadcast bound)
    ivfTopKKernel(probeCells(queries, centroids, nProbe), corpusWithCell, k)

  /** IVF scoring given an already-selected probe set (query_id, qvec,
    * cell_id) — lets [[ivfSweep]] reuse one probe computation for both
    * scanned-fraction accounting and scoring.
    */
  def ivfTopKWithProbes(probes: DataFrame, corpusWithCell: DataFrame,
                        k: Int): DataFrame = {
    rankByCos(corpusWithCell.join(broadcast(probes), Seq("cell_id"))
      .withColumn("cos", cosine(col("qvec"), col("vec"))), k)
  }

  /** Per-query top-k of scored (query_id, vec_id, cos) rows by (cos desc,
    * vec_id asc): (query_id, vec_id, cos, rank), rank 1..k.
    */
  private def rankByCos(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("vec_id"), col("cos"), col("rank"))
  }

  /** Driver-memory bound for [[ivfTopKKernel]]'s collected probe set, in
    * DOUBLES (rows x dim): the kernel collects (query_id, qvec) per probed
    * cell to the driver and broadcasts it, so its footprint is
    * ~8 bytes x nq x nProbe x dim. 64M doubles = ~512 MB — safe under the
    * default driver heap; batches above it degrade to the fully-distributed
    * [[ivfTopKWithProbes]] plan instead of OOM-ing the driver.
    */
  val KernelMaxProbeDoubles: Long = 64000000L

  /** IVF scoring through the HEAP KERNEL ([[heapTopK]]) instead of the
    * join+window plan: the probe set (query_id, qvec, cell_id) is bounded
    * (nq x nProbe rows), so it broadcasts as a cell_id -> queries map — no
    * scored-row materialization, no shuffle of the (scanned x
    * probing-queries) product. Result-identical to
    * [[ivfTopKWithProbes]] (same candidate set; cosineArr reproduces the
    * column fold bit-for-bit; same tie-break) — measured 3-10x faster at
    * the 2M-vector scale point, where the join+window form was slower than
    * a full brute-force scan.
    */
  def ivfTopKKernel(probes: DataFrame, corpusWithCell: DataFrame,
                    k: Int): DataFrame = {
    require(k > 0, s"ivfTopKKernel: k must be positive (got $k)")
    // one small agg job bounds the collect BEFORE it happens (the probe set
    // is nq x nProbe rows — typically tiny, but nothing upstream caps nq)
    val sz = probes.agg(count(lit(1)), max(size(col("qvec")))).first()
    val probeDoubles = sz.getLong(0) * (if (sz.isNullAt(1)) 0L else sz.getInt(1).toLong)
    if (probeDoubles > KernelMaxProbeDoubles) {
      System.err.println(s"graft.Ann.ivfTopKKernel: probe set of " +
        s"$probeDoubles doubles exceeds broadcast bound $KernelMaxProbeDoubles" +
        " — falling back to the distributed join+window plan")
      return ivfTopKWithProbes(probes, corpusWithCell, k)
    }
    val probeArr = probes
      .select(col("cell_id").cast("long"), col("query_id").cast("long"),
        col("qvec").cast("array<double>"))
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getSeq[Double](2).toArray)))
      .groupBy(_._1).map { case (c, rs) => c -> rs.map(_._2) }
    heapTopK(corpusWithCell, probeArr, k)
  }

  /** The heap kernel of [[bruteForceTopK]] and [[ivfTopKKernel]]: each
    * partition of `rows` (vec_id, vec, cell_id) offers every vector to the
    * queries (query_id, qvec) that `byCell` lists for its cell, into one
    * bounded heap per query (the faiss ResultHeap pattern), so only
    * numPartitions x k candidate rows per query reach [[rankByCos]].
    */
  private def heapTopK(rows: DataFrame, byCell: Map[Long, Array[(Long, Array[Double])]],
                       k: Int): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(byCell)
    val partial = rows
      .select(col("vec_id").cast("long"),
        col("vec").cast("array<double>").as("vec"),
        col("cell_id").cast("long"))
      .as[(Long, Seq[Double], Long)]
      .mapPartitions { it =>
        val heapOf = scala.collection.mutable.HashMap.empty[Long, graft.query.ShardServe.TopKHeap]
        val cells = bc.value.map { case (c, qs) => c -> (qs.map(_._2),
          qs.map(q => heapOf.getOrElseUpdate(q._1, new graft.query.ShardServe.TopKHeap(k))))
        }
        it.foreach { case (id, vecSeq, cell) =>
          cells.get(cell).foreach { case (qvecs, heaps) =>
            val vec = vecSeq.toArray
            var i = 0
            while (i < heaps.length) { heaps(i).offer(cosineArr(qvecs(i), vec), id); i += 1 }
          }
        }
        heapOf.iterator.flatMap { case (qid, h) =>
          h.drain().iterator.map { case (s, d) => (qid, d, s) }
        }
      }
      .toDF("query_id", "vec_id", "cos")
    rankByCos(partial, k)
  }

  /** Quality/cost sweep for IVF: for each nProbe, the recall against the
    * exact brute-force top-k and the fraction of corpus vectors scanned
    * (Σ over queries of probed-cell sizes / (nq * N)) — the operating-point
    * table an operator reads to pick nProbe (recall rises toward 1.0 as the
    * scanned fraction approaches 1.0 = brute force). All inputs except the
    * corpus are query-batch-bounded; the per-point cost is one ivfTopK run
    * over the batch.
    *
    * `exact` must be `bruteForceTopK(queries, corpus, k)` over the same
    * corpus (passed in so the sweep never recomputes it per point).
    */
  def ivfSweep(queries: DataFrame, corpusWithCell: DataFrame,
               centroids: DataFrame, exact: DataFrame, k: Int,
               nProbes: Seq[Int]): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cellSizes = corpusWithCell.groupBy(col("cell_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = cellSizes.values.sum
    val nq = queries.count()
    val exactPairs = exact
      .select(col("query_id").cast("long"), col("vec_id").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val rows = nProbes.map { np =>
      // ONE probe selection per point, reused by accounting AND scoring
      // (localCheckpoint pins it so the scoring join doesn't recompute the
      // centroid window)
      val probes = probeCells(queries, centroids, np).localCheckpoint()
      val scanned = probes.select(col("cell_id"))
        .collect().map(r => cellSizes.getOrElse(r.getLong(0), 0L)).sum
      val approx = ivfTopKWithProbes(probes, corpusWithCell, k)
        .select(col("query_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exactPairs & approx).size.toDouble / exactPairs.size
      (np, recall, scanned.toDouble / (nq * total))
    }
    rows.toDF("n_probe", "recall", "scanned_fraction")
  }

  /** Assign corpus vectors to nearest centroid (cell): one narrow map-side
    * pass over the corpus — no join, no shuffle, no window — so at 100 TB
    * the corpus is read exactly once. The centroids go out as a BROADCAST
    * VARIABLE consumed by a mapPartitions kernel (task-side argmax over
    * primitive arrays), so the plan stays O(1) regardless of nCells*dim.
    * Tie-break: lower cell_id wins (centroids scanned in id order,
    * strictly-greater similarity replaces). [[cosineArr]] reproduces
    * [[cosine]]'s fold order, so the kernel is bit-identical to a
    * column-expression fold over the same centroids (DedupAnnSpec).
    */
  def assignCells(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids
      .select(col("cell_id").cast("long"), col("cvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    require(cents.nonEmpty, "assignCells: empty centroid table")
    val c = corpus.select(col("vec_id").cast("long"),
      col("vec").cast("array<double>").as("vec"))
    val spark = corpus.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(
      cents.map { case (id, v) => (id, v.toArray) })
    c.as[(Long, Seq[Double])]
      .mapPartitions { it =>
        val cs = bc.value
        it.map { case (id, vecSeq) =>
          val vec = vecSeq.toArray
          var best = -2.0
          var bestId = Long.MaxValue
          var i = 0
          while (i < cs.length) {
            val cc = cosineArr(vec, cs(i)._2)
            if (cc > best) { best = cc; bestId = cs(i)._1 }
            i += 1
          }
          (id, vecSeq, bestId)
        }
      }
      .toDF("vec_id", "vec", "cell_id")
  }

  /** Above this cell count the farthest-point refinement (O(nCells x
    * pool x dim) driver-side) is skipped and the plain hash-order prefix
    * seeds directly; Lloyd's sample at that scale smooths the residual
    * imbalance.
    */
  private[graft] val GreedySeedMaxCells = 512

  def seedCentroids(corpus: DataFrame, nCells: Int): DataFrame = {
    // Hash-ordered candidates: id-distribution-independent (an id-stride
    // form collapses on sparse id ranges — hash-sampled train sets,
    // compaction holes, arbitrary upstream ids; the 2M probe measured 12
    // centroids from a 256-cell stride seed). orderBy+limit is
    // TakeOrderedAndProject (per-partition heaps, driver merge of a
    // bounded row count). For moderate cell counts the nCells seeds are
    // then chosen from a 4x pool by deterministic greedy farthest-point
    // (k-means++-shaped): a plain uniform prefix misses small clusters
    // with coupon-collector probability, which costs recall-at-scanned
    // on genuinely clustered data (DedupAnnSpec pins the property).
    val spark = corpus.sparkSession
    import org.apache.spark.sql.expressions.Window
    val poolFactor = if (nCells <= GreedySeedMaxCells) 4 else 1
    val bounded = corpus
      .select(xxhash64(col("vec_id")).as("__h"),
        col("vec_id").cast("long").as("__id"),
        col("vec").cast("array<double>").as("cvec"))
      .orderBy(col("__h"), col("__id")).limit(nCells * poolFactor)
    if (poolFactor == 1) {
      val w = Window.orderBy(col("__h"), col("__id"))
      bounded.withColumn("cell_id", row_number().over(w).cast("long") - 1)
        .select(col("cell_id"), col("cvec"))
    } else {
      val pool = bounded.orderBy(col("__h"), col("__id"))
        .select(col("cvec")).collect()
        .map(_.getSeq[Double](0).toArray)
      val k = math.min(nCells, pool.length)
      val chosen = new Array[Int](k)
      val minD = Array.fill(pool.length)(Double.MaxValue)
      def d2(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0
        var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      var c = 0
      while (c < k) {
        val pick =
          if (c == 0) 0 // deterministic start: first in hash order
          else {
            var best = -1
            var bestD = -1.0
            var i = 0
            while (i < pool.length) {
              if (minD(i) > bestD) { bestD = minD(i); best = i }
              i += 1
            }
            best
          }
        chosen(c) = pick
        val pv = pool(pick)
        var i = 0
        while (i < pool.length) {
          val dd = d2(pool(i), pv)
          if (dd < minD(i)) minD(i) = dd
          i += 1
        }
        c += 1
      }
      import spark.implicits._
      chosen.toIndexedSeq.zipWithIndex
        .map { case (pi, ci) => (ci.toLong, pool(pi).toSeq) }
        .toDF("cell_id", "cvec")
    }
  }

  /** Lloyd refinement: iterate assign -> per-cell elementwise mean. Each
    * iteration is one narrow assignment pass + one (cell_id, dim) shuffle of
    * scalar rows; centroids stay driver-small throughout. Empty cells drop
    * out (standard k-means behavior).
    */
  def lloyd(corpus: DataFrame, seed: DataFrame, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    var cents = seed
    for (_ <- 0 until iters) {
      val assigned = assignCells(corpus, cents)
      // centroids are driver-small by construction (assignCells collects
      // them anyway) — collecting the per-iteration means directly both
      // pins the lineage (no re-run of prior assigns) and replaces the old
      // localCheckpoint-then-collect pair with ONE job per iteration (r7)
      val rows = graft.functions.TextFunctions.segmentMean(
        assigned.select(col("cell_id").as("segment_id"), col("vec")))
        .select(col("segment_id").cast("long").as("cell_id"),
          col("mean_vec").cast("array<double>").as("cvec"))
        .collect()
        .map(r => (r.getLong(0), r.getSeq[Double](1)))
      cents = rows.toSeq.toDF("cell_id", "cvec")
    }
    cents
  }
}
