package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, LongType, StructType}
import graft.io.{JsonRecord, MetaIO, TableIO}
import graft.index.PackedIndex
import org.json4s.{JArray, JLong, JObject, JString}

/** One committed version of an IVF index: the commit record `ivf.json` as
  * [[IvfIndex.snapshot]] read it, in one file read. A call that takes one
  * snapshot serves and filters against a single version; a write builds
  * the next version as a copy of its snapshot and commits it
  * ([[IvfIndex.commit]]). Committed segments and `centroids.tsv` are never
  * rewritten or deleted, so a snapshot serves its version across any
  * number of later appends and deletes.
  *
  * @param segments the committed cell segments, in commit order
  * @param tombstones sorted deleted-but-unpurged vec_ids ([[IvfIndex.delete]])
  * @param holes sorted vec_ids past compactions removed: the dead-id ledger
  *              that makes a re-issued delete of an erased vector a no-op
  */
final case class IvfSnapshot private[graft] (
    dir: String, nCells: Int, dim: Int, storage: String,
    segments: Seq[IvfIndex.Segment], tombstones: Array[Long], holes: Array[Long]) {

  /** Committed vectors: the sum of the segments' counts. */
  def nVecs: Long = segments.map(_.vecs).sum

  /** The trained centroids (cell_id, cvec), ascending by cell_id. */
  def centroids: Array[(Long, Array[Double])] =
    MetaIO.readString(s"$dir/centroids.tsv").split("\n").iterator
      .map(_.trim).filter(_.nonEmpty).map { line =>
        val Array(id, vs) = line.split("\t", 2)
        id.toLong -> vs.split(",").map(_.toDouble)
      }.toArray.sortBy(_._1)

  /** The committed segments as ONE relation (vec_id, vec, cell_id) of the
    * schema `storage` implies, so no read infers one. vec is always
    * ARRAY<DOUBLE> here: f32 storage dequantizes on read, so every
    * consumer scores in double.
    */
  def cells(spark: SparkSession): DataFrame =
    IvfIndex.readSegments(spark, storage, segments.map(s => s"$dir/${s.name}"))
      .select(col("vec_id"), col("vec").cast("array<double>").as("vec"), col("cell_id"))
}

/** PERSISTED IVF index — the dense sibling of the packed BM25 index:
  * build/train once, serve many query batches from storage (reference
  * analogue: faiss write_index/read_index + incremental `add`,
  * `/root/reference/src/retrievals/models/retrieval_auto.py:89,294-303`).
  *
  * Layout under `dir/`:
  *   cells/ (+ cells-aN/)   (parquet) (vec_id, vec, cell_id) — one segment
  *                          per build/append commit; rows are CLUSTERED by
  *                          cell_id via a sorted repartition, so parquet
  *                          row-group stats prune non-probed cells and a
  *                          query batch reads ~nProbe/nCells of the data
  *                          (cell_id stays a DATA column — a dir per cell
  *                          would mean driver-serial commits and a
  *                          scheduler task per dir, the same reasoning as
  *                          the postings shard column)
  *   centroids.tsv          trained centroids (small: nCells x dim),
  *                          written once by build or compact and never
  *                          changed after
  *   ivf.json               the commit record: nCells, dim, storage, the
  *                          committed segments as (name, vecs), tombstones
  *                          and holes. nVecs is derived as the sum of the
  *                          segments' vecs
  *
  * Commit protocol (the [[graft.index.PackedIndex]] one): the record is
  * the index's only metadata and its only commit marker. [[commit]] is its
  * only writer, through the all-or-nothing
  * [[graft.io.MetaIO.writeAtomic]]; [[snapshot]] is its only reader. Every
  * write (build, append, delete, compact) does its data writes first, each
  * into a dir or file no committed version names, and then commits the
  * whole next version once, as its last step. A crash before that step
  * leaves the previous version intact (or, for build and compact, no
  * committed index), and a retry overwrites every partial artifact. A dir
  * without a record is "no committed index" to every reader and writer.
  * Serving reads two files: the record and `centroids.tsv`.
  *
  * Writers: one at a time per index. A delete and an append both commit
  * the next version of the same record, so two concurrent writers would
  * lose one of the commits.
  *
  * Vector storage (`storage` in the record, fixed at build):
  *   - "f64" (default): vec persisted as ARRAY<DOUBLE> — byte-exact
  *     round-trip of the input;
  *   - "f32": vec persisted as ARRAY<FLOAT> — HALF the scan bytes, the
  *     real-embedding-pipeline format (serving the 2M probe was
  *     scan-bound, and at 10^9 x 768 dims the 2x byte tax dominates).
  *     Cosine is still computed in DOUBLE over the dequantized values
  *     (deterministic; ranks for genuinely-separated neighbors are
  *     unaffected, scores may differ from f64 storage in last ulps — the
  *     contract queries pin quality through the recall column, not score
  *     hashes, exactly like every approximate path here).
  *
  * Append contract: new vectors are assigned against the FROZEN trained
  * centroids (exactly faiss `index.add` after `train` — recall for new
  * data tracks how well the training sample covered it). Retraining is a
  * REBUILD INTO A FRESH DIR + caller-side swap (the compact() pattern):
  * build() refuses a dir with a record, because overwriting the base
  * segment in place would expose mixed old/new state to concurrent
  * readers with no error.
  *
  * Idempotency: both build and append accept an optional segment NAME.
  * An append whose given name the record already holds is a no-op that
  * writes nothing — the hook exactly-once ingestion rides (streaming/IvfIngest
  * derives the name from the micro-batch id, so a replayed batch after a
  * crash re-lands on the same segment instead of duplicating vectors).
  *
  * Served results are bit-identical to the in-memory [[Ann.ivfTopK]] over
  * the same vectors and centroids (IvfIndexSpec pins it; f32 storage is
  * pinned on rank parity instead, see above), so the q_ann_ivf_sweep
  * quality/cost table applies to the persisted form unchanged.
  */
object IvfIndex {

  /** One committed cell segment: its dir name under the index and its rows. */
  final case class Segment(name: String, vecs: Long)

  /** Lloyd trains on at most nCells x this many sampled vectors (the faiss
    * `max_points_per_centroid` discipline): k-means quality saturates at a
    * few hundred points per centroid, so training cost stays
    * O(nCells^2 x dim x iters) regardless of corpus size instead of paying
    * the full nCells x dim argmax for EVERY vector EVERY iteration. The
    * one full-corpus assignment still happens — once, at segment-write
    * time (inherent to flat IVF `add`).
    */
  val MaxTrainPointsPerCell: Int = 256

  /** Auto cell count: ~sqrt(N) (the standard IVF operating point — probe
    * cost per query ~ nProbe x N/nCells and centroid-argmax cost ~ nCells
    * balance at sqrt(N)), clamped to [16, 32768]. The upper clamp bounds
    * the broadcast centroid table (32768 x 768 dims x 8B = ~200 MB) and
    * the per-vector assignment argmax; beyond ~10^9 vectors a coarser-
    * than-sqrt table is the right trade anyway (faiss guidance).
    */
  def autoCells(n: Long): Int = {
    val raw = math.ceil(math.sqrt(math.max(1L, n).toDouble)).toInt
    math.min(32768, math.max(16, raw))
  }

  /** Train (seed + Lloyd) and persist into a FRESH dir (see class doc).
    * `corpus` is (vec_id, vec). Writes the segment and `centroids.tsv`,
    * then commits the record; a crashed build leaves no committed index
    * and a retry overwrites every partial artifact.
    *
    * `nCells = 0` (default-able) derives [[autoCells]](N) — pass an
    * explicit count only when the operating point is known. Training runs
    * on a deterministic hash-sample capped at nCells x
    * [[MaxTrainPointsPerCell]] vectors (no-op at small scale).
    */
  def build(corpus: DataFrame, dir: String, nCells: Int, iters: Int,
            segmentName: String = "cells",
            storage: String = "f64"): Unit = {
    require(!exists(dir),
      s"IvfIndex.build: $dir already holds a committed index — retrain " +
        "rebuilds into a fresh dir and the caller swaps (the compact() pattern)")
    require(storage == "f64" || storage == "f32",
      s"IvfIndex.build: unknown storage mode '$storage' (f64|f32)")
    val spark = corpus.sparkSession
    val c = corpus.select(col("vec_id").cast("long"),
      col("vec").cast("array<double>").as("vec"))
    val n = c.count()
    val cells = if (nCells > 0) nCells else autoCells(n)
    val sampleCap = cells.toLong * MaxTrainPointsPerCell
    val train =
      if (n <= sampleCap) c
      else {
        // deterministic 1-in-k hash sample; the sample is what Lloyd and
        // the seeding see, so training cost is corpus-size-independent
        val everyK = math.max(1L, (n + sampleCap - 1) / sampleCap)
        c.filter(pmod(xxhash64(col("vec_id")), lit(everyK)) === 0)
      }
    // hash-ordered seeding, sparse-id-safe — Ann.seedCentroids carries
    // the same form since the round-6 review (the 2M probe caught an
    // earlier id-stride seed keeping 12 of 256 centroids on a
    // hash-sampled train set), so every caller shares one implementation
    val seed = Ann.seedCentroids(train, cells)
    val centroids = Ann.lloyd(train, seed, iters)
    val cents = centroids
      .select(col("cell_id").cast("long"), col("cvec").cast("array<double>"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)
    require(cents.nonEmpty, s"IvfIndex.build: no centroids at $dir")
    MetaIO.mkdirs(dir)
    val assigned = Ann.assignCells(c, centsDf(spark, cents))
    val seg = writeSegment(assigned, dir, segmentName, storage)
    MetaIO.writeAtomic(s"$dir/centroids.tsv", cents.map { case (id, v) =>
      s"$id\t${v.mkString(",")}"
    }.mkString("\n"))
    commit(IvfSnapshot(dir, cents.length, cents.head._2.length, storage,
      Seq(seg), Array.empty, Array.empty))
  }

  /** Add vectors against the frozen centroids: a fresh segment dir, then
    * the record naming it. A crash leaves an orphan dir no record names,
    * which a retry overwrites. Only a caller-given `segmentName` marks a
    * replay: if the record already holds it, the append writes nothing. An
    * unnamed append takes the first free `cells-a<i>` from i = the segment
    * count, so it never collides with a named segment. Per-append cost is
    * proportional to the NEW segment only: the record carries every
    * segment's count, so nVecs needs no scan of the committed ones.
    */
  def append(newVecs: DataFrame, dir: String,
             segmentName: Option[String] = None): Unit = {
    val snap = snapshot(dir)
    val taken = snap.segments.map(_.name).toSet
    val next = segmentName.getOrElse(Iterator.from(snap.segments.length)
      .map(i => s"cells-a$i").filterNot(taken).next())
    if (!taken(next)) {
      val c = newVecs.select(col("vec_id").cast("long"),
        col("vec").cast("array<double>").as("vec"))
      val seg = writeSegment(
        Ann.assignCells(c, centsDf(newVecs.sparkSession, snap.centroids)),
        dir, next, snap.storage)
      commit(snap.copy(segments = snap.segments :+ seg))
    }
  }

  /** Top-k cosine over the persisted index: probe selection runs
    * driver-side against the loaded centroids (tiny), then ONE scan of the
    * committed cell segments with `cell_id IN (probed)` pushed into the
    * parquet scan — row-group stats prune non-probed cells, so the scan
    * reads ~|probed|/nCells of the index (plan-verified in IvfIndexSpec).
    * Bit-identical to [[Ann.ivfTopK]] on the same vectors/centroids.
    *
    * `allowedIds` (optional) is the ES-filter-context allowlist the BM25
    * paths carry: only listed vec_ids may be scored, applied as a filter
    * on the pruned scan BEFORE ranking (candidates restricted, similarity
    * unchanged). Tombstoned ids ([[delete]]) are always excluded.
    */
  def search(spark: SparkSession, dir: String, queries: DataFrame,
             k: Int, nProbe: Int,
             allowedIds: Option[Array[Long]] = None): DataFrame =
    search(spark, snapshot(dir), queries, k, nProbe, allowedIds)

  /** [[search]] against the committed version `snap`. */
  def search(spark: SparkSession, snap: IvfSnapshot, queries: DataFrame,
             k: Int, nProbe: Int, allowedIds: Option[Array[Long]]): DataFrame = {
    val probes = Ann.probeCells(queries, centsDf(spark, snap.centroids), nProbe)
      .localCheckpoint() // pinned: reused for the pushdown filter AND the join
    val probedCells = probes.select(col("cell_id"))
      .distinct().collect().map(_.getLong(0)).sorted
    var cells = withIds(snap.cells(spark), "cell_id", probedCells, keep = true)
    allowedIds.foreach(ids => cells = withIds(cells, "vec_id", ids, keep = true))
    // serve through the heap kernel, not the join+window plan: at the
    // 2M-vector probe the latter was SLOWER than a full brute-force scan
    // (it materializes scanned x probing-queries rows through a shuffle);
    // the kernel form is result-identical and 3-10x faster
    Ann.ivfTopKKernel(probes, live(snap, cells), k)
  }

  /** Visibility-only delete, the dense sibling of PackedIndex.delete:
    * tombstoned vec_ids are excluded from every search without rewriting
    * cell segments or retraining. The merged set is committed with the
    * rest of the record; idempotent. Bounded like the BM25 tombstones (the
    * set rides into the scan filter).
    *
    * Matches the sibling's FAIL-LOUDLY contract: ids already erased by a
    * past [[compact]] (the holes ledger) are silently skipped — a
    * re-issued erasure of a gone vector is a no-op — but an id that never
    * named a committed vector raises instead of being tombstoned forever
    * against the MaxTombstones bound. The liveness check is one
    * column-pruned anti-join scan of the index per delete batch (deletes
    * are rare admin operations; IVF ids are arbitrary longs, so no O(1)
    * range check exists the way it does for the dense BM25 doc ids).
    */
  def delete(spark: SparkSession, dir: String, vecIds: Seq[Long],
             maxTombstones: Int = PackedIndex.MaxTombstones): Unit = {
    import spark.implicits._
    val snap = snapshot(dir)
    val live = vecIds.distinct
      .filter(id => java.util.Arrays.binarySearch(snap.holes, id) < 0)
    if (live.nonEmpty) {
      val unknown = live.toDF("vec_id")
        .join(snap.cells(spark).select(col("vec_id")), Seq("vec_id"), "left_anti")
        .collect().map(_.getLong(0)).sorted
      require(unknown.isEmpty,
        s"IvfIndex.delete: ids name no committed vector at $dir: " +
          unknown.take(5).mkString(",") +
          (if (unknown.length > 5) s" (+${unknown.length - 5} more)" else ""))
    }
    val merged = (snap.tombstones ++ live).distinct.sorted
    require(merged.length <= maxTombstones,
      s"IvfIndex.delete: tombstone set would reach ${merged.length} ids " +
        s"(bound $maxTombstones) — run compact() to apply them physically " +
        "(or rebuild over the filtered corpus for mass deletes)")
    commit(snap.copy(tombstones = merged))
  }

  /** Apply tombstones PHYSICALLY into a fresh dir — the dense sibling of
    * PackedIndex.compact: dead vectors are dropped from the cell data,
    * nVecs recomputes over survivors, vec_ids and the FROZEN centroids are
    * preserved (no retrain — cell assignments of survivors are unchanged,
    * so compacted search is bit-identical to a fresh build over survivors
    * with the same centroids; IvfIndexSpec pins it). The source dir is
    * untouched (readers keep serving it); the caller swaps when done.
    * Erased ids join the holes ledger so a re-issued [[delete]] of one is
    * a no-op forever after. The record is committed last, so a crashed
    * compaction leaves `outDir` with no committed index.
    */
  def compact(spark: SparkSession, srcDir: String, outDir: String): Unit = {
    require(!exists(outDir),
      s"IvfIndex.compact: $outDir already holds a committed index")
    val snap = snapshot(srcDir)
    MetaIO.mkdirs(outDir)
    val seg = writeSegment(live(snap, snap.cells(spark)), outDir, "cells", snap.storage)
    MetaIO.writeAtomic(s"$outDir/centroids.tsv",
      MetaIO.readString(s"$srcDir/centroids.tsv"))
    commit(IvfSnapshot(outDir, snap.nCells, snap.dim, snap.storage, Seq(seg),
      Array.empty, (snap.holes ++ snap.tombstones).distinct.sorted))
  }

  // ---- the commit record -------------------------------------------------

  private def recordPath(dir: String): String = s"$dir/ivf.json"

  /** True iff `dir` holds a committed index. */
  def exists(dir: String): Boolean = MetaIO.exists(recordPath(dir))

  /** Publish `snap` as the index's commit record, replacing the previous
    * one all-or-nothing: the last step of every write.
    */
  private[graft] def commit(snap: IvfSnapshot): Unit =
    JsonRecord.write(recordPath(snap.dir), List(
      "nCells" -> JLong(snap.nCells), "dim" -> JLong(snap.dim),
      "storage" -> JString(snap.storage),
      "segments" -> JArray(snap.segments.toList.map(s =>
        JObject("name" -> JString(s.name), "vecs" -> JLong(s.vecs)))),
      "tombstones" -> JsonRecord.ids(snap.tombstones),
      "holes" -> JsonRecord.ids(snap.holes)))

  /** The committed version of the index at `dir`: one read of its commit
    * record. A call that serves or changes the index takes one snapshot.
    */
  def snapshot(dir: String): IvfSnapshot = {
    val (j, r) = JsonRecord.read("IvfIndex.snapshot", dir, recordPath(dir))
    import j._
    IvfSnapshot(dir, long(r("nCells")).toInt, long(r("dim")).toInt, str(r("storage")),
      arr(r("segments")).map(obj).map(s => Segment(str(s("name")), long(s("vecs")))),
      ids(r("tombstones")), ids(r("holes")))
  }

  // ---- internals -------------------------------------------------------

  /** On-disk schema of a cell segment under `storage`. */
  private[graft] def segmentSchema(storage: String): StructType = new StructType()
    .add("vec_id", LongType)
    .add("vec", ArrayType(if (storage == "f32") FloatType else DoubleType))
    .add("cell_id", LongType)

  private[ann] def readSegments(spark: SparkSession, storage: String,
                                locations: Seq[String]): DataFrame =
    TableIO.read(spark, segmentSchema(storage), locations: _*)

  /** Cluster a segment's rows by cell before writing so parquet row-group
    * min/max on cell_id make the probe-time IN filter prune. f32 storage
    * quantizes the vec column to ARRAY<FLOAT> at write (half the scan
    * bytes; see class doc). Returns the written segment with its row
    * count, read back with the known schema.
    */
  private def writeSegment(assigned: DataFrame, dir: String, name: String,
                           storage: String): Segment = {
    val spark = assigned.sparkSession
    val parts = math.max(spark.sparkContext.defaultParallelism, 4)
    val vecOut =
      if (storage == "f32") col("vec").cast("array<float>").as("vec")
      else col("vec")
    val location = s"$dir/$name"
    TableIO.write(assigned
      .repartition(parts, col("cell_id"))
      .sortWithinPartitions(col("cell_id"), col("vec_id"))
      .select(col("vec_id"), vecOut, col("cell_id")), location)
    Segment(name, readSegments(spark, storage, Seq(location)).count())
  }

  /** `cells` without the snapshot's tombstoned ids. */
  private def live(snap: IvfSnapshot, cells: DataFrame): DataFrame =
    if (snap.tombstones.isEmpty) cells
    else withIds(cells, "vec_id", snap.tombstones, keep = false)

  /** `df` restricted to (keep) or stripped of (!keep) rows whose `column`
    * is in `ids`. Small sets ride the scan as pushdown-friendly IN
    * predicates; large sets switch to broadcast joins (a 100k-element In
    * bloats the plan and evaluates per row-group slower than a hash
    * probe) — one shared threshold with the WAND term filters so the two
    * serving paths can't drift.
    */
  private def withIds(df: DataFrame, column: String, ids: Array[Long],
                      keep: Boolean): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    if (ids.length <= graft.query.Wand.IsinThreshold) {
      val in = col(column).isin(ids.toSeq: _*)
      df.filter(if (keep) in else !in)
    } else
      df.join(broadcast(ids.toSeq.toDF(column)), Seq(column),
        if (keep) "left_semi" else "left_anti")
  }

  private def centsDf(spark: SparkSession,
                      cents: Array[(Long, Array[Double])]): DataFrame = {
    import spark.implicits._
    cents.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cell_id", "cvec")
  }
}
