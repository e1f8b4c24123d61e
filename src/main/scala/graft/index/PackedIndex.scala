package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.core.Bm25Params
import graft.io.{JsonRecord, MetaIO, TableIO}
import org.json4s.{JArray, JDouble, JLong, JObject, JString}

/** Persisted packed posting-list row: all blocks of one term within one
  * doc-shard. Doc-partitioned (shard = doc_id >> shardBits) so a WAND task
  * holds EVERY query term's postings for its doc range — the standard
  * web-search sharding; per-shard top-k heaps then merge globally
  * (reference analogue: faiss shard search + ResultHeap merge,
  * `/root/reference/src/retrievals/models/retrieval_auto.py:335-347`).
  */
final case class PackedBlock(
    base: Long, maxDoc: Long, count: Int, maxTf: Long, minDl: Long,
    docs: Array[Byte], tfs: Array[Byte], dls: Array[Byte]) {
  /** View as the codec block (single place for the field mapping). */
  def toCodec: Codec.Block =
    Codec.Block(base, maxDoc, count, maxTf, minDl, docs, tfs, dls)
}

final case class PackedPostings(shard: Int, term: String, nPostings: Long,
                                blocks: Array[PackedBlock])

/** Corpus-level stats of one index version. n and avgdl are the sums over
  * the committed groups; the rest is stored in the commit record.
  */
final case class IndexStats(
    n: Long, avgdl: Double, avgRawIdf: Double,
    k1: Double, b: Double, epsilon: Double,
    shardBits: Int, blockSize: Int) {
  def params: Bm25Params = Bm25Params(k1, b, epsilon)
  /** eps-floored idf for a query term given its global df (0 if absent). */
  def idf(df: Long): Double = {
    val raw = graft.core.Bm25.rawIdf(n, df)
    if (raw < 0) epsilon * avgRawIdf else raw
  }
}

/** One committed version of a packed index: the commit record `index.json`
  * as [[PackedIndex.snapshot]] read it, in one file read. A call that takes
  * one snapshot scores, filters and shards against a single version; a
  * write builds the next version as a copy of its snapshot and commits it
  * ([[PackedIndex.commit]]).
  *
  * How long a version stays readable: committed groups and their postings
  * are never rewritten or deleted, and everything else a reader needs
  * (stats, df, tombstones) is the snapshot's own or derives from its
  * groups. So a snapshot serves correctly across any number of later
  * appends and deletes, until its dir itself is removed. A positional arm
  * that covers other groups than the snapshot fails loudly
  * ([[PositionalIndex.load]]).
  *
  * @param manifests the committed groups, ascending by group
  * @param nextDocId the next free doc id: above every id the index ever
  *                  committed, also after a compaction removed docs, so an
  *                  id is never reused (a reused id would resurrect under
  *                  stale external references)
  * @param tombstones sorted deleted-but-unpurged doc ids
  * @param holes sorted ids a past compaction removed
  * @param positional the positional arm's segments and lineage stamp
  */
final case class IndexSnapshot private[graft] (
    dir: String, stats: IndexStats,
    manifests: Seq[PackedIndex.GroupManifest], nextDocId: Long,
    tombstones: Array[Long], holes: Array[Long],
    positional: Option[PositionalArm]) {

  /** Ids of the committed groups, ascending. */
  def groups: Seq[Int] = manifests.map(_.group)

  /** The group id the next append commits. */
  def nextGroup: Int = groups.lastOption.fold(0)(_ + 1)

  /** Upper bound on the distinct shard count: ids lie in [0, nextDocId), so
    * shard = doc_id >> shardBits never exceeds it. Stages keyed on `shard`
    * cap their partition counts here — a hash partitioner on `shard`
    * cannot fill more partitions than distinct shards (r7).
    */
  def numShards: Int =
    (math.max(math.max(nextDocId, 1L) - 1, 0L) >> stats.shardBits).toInt + 1

  /** The committed groups' packed postings as ONE relation of the known
    * [[PackedIndex.PostingsSchema]], so no read infers a schema. Groups
    * come from the record, not a listing of postings/: a crashed append's
    * orphan grp=N dir is never served. Past 32 groups (Spark's parallel
    * partition discovery threshold) listing them is a Spark job;
    * [[PackedIndex.compact]] folds them to one. `of` narrows the read to
    * some of the committed groups.
    */
  def postings(spark: SparkSession,
               of: Seq[PackedIndex.GroupManifest] = manifests): Dataset[PackedPostings] = {
    require(of.nonEmpty, s"IndexSnapshot: no committed groups at $dir")
    TableIO.read(spark, PackedIndex.PostingsSchema,
      of.map(m => s"$dir/postings/grp=${m.group}"): _*).as(Encoders.product[PackedPostings])
  }

  /** The snapshot's (term, df): a view of its groups ([[PackedIndex.dfOf]]). */
  def df(spark: SparkSession): DataFrame = PackedIndex.dfOf(postings(spark))
}

/** Build + store of the packed inverted index.
  *
  * Layout under `dir/`:
  *   postings/grp=G/          (parquet) packed rows; `shard` is a data
  *                            column (files are shard-clustered by the
  *                            sorted pack shuffle — a dir per shard would
  *                            mean thousands of driver-committed files and
  *                            one scheduler task per dir on every read)
  *   positions, positions-*   (parquet) the positional arm's segments
  *   index.json               the commit record: stats parameters and
  *                            avgRawIdf, nextDocId, every
  *                            committed group (docs, sumDl, terms, postings,
  *                            bytes), tombstones, holes and the positional
  *                            arm's segments and lineage stamp
  *
  * Commit protocol: the record is the index's only metadata and the only
  * commit marker. [[commit]] is its only writer, through the all-or-nothing
  * [[graft.io.MetaIO.writeAtomic]]; [[snapshot]] is its only reader. Every
  * write does its data writes first (each into a dir no committed version
  * names) and then commits the whole next version once, as its last step.
  * A crash before that step leaves the previous version intact, and a
  * retry recomputes the same dirs and overwrites every partial artifact.
  * n and avgdl are not stored: the snapshot derives them as Σdocs and
  * ΣsumDl / Σdocs over the groups, the same sums every write computes.
  * Neither is df: it is the per-term sum of the groups' `nPostings`
  * ([[IndexSnapshot.df]]), so a write stores only its own group.
  *
  * Writers: one at a time per index. Two concurrent appenders would both
  * write grp=N before either commits; exactly-once commits need
  * per-attempt data names, which this layout does not have.
  *
  * Tables go through [[graft.io.TableIO]] and the record through
  * [[graft.io.MetaIO]] — no direct driver-local filesystem access, so `dir`
  * may be a local path or any Hadoop FileSystem URI.
  *
  * Resumability (north rule): the build runs group by group; groups are
  * CONTIGUOUS shard ranges (shard = doc_id >> shardBits), so each group's
  * input is a doc_id range predicate that parquet row-group stats prune —
  * the staged corpus is scanned ~once per build in total, not once per
  * group (doc ids are dense and files hold contiguous ranges). A resumed
  * build skips every group whose postings write committed (`_SUCCESS`).
  *
  * Skew: shuffle key for the pack stage is (shard, term) — stopword-heavy
  * terms are split across every doc-shard, so no single reducer sees a full
  * global posting list (salted-by-construction); within a shard a hot term
  * is further split into fixed-size blocks (long-posting-list splitting).
  */
object PackedIndex {

  // ---- shard sizing ----------------------------------------------------

  /** Shard-count ceiling for [[deriveShardBits]]: the per-query global rank
    * window receives up to numShards x k candidate rows (one heap per
    * kernel task, never more tasks than shards), so numShards must stay
    * bounded as the corpus grows — a FIXED docs-per-shard width (the old
    * default 16) made shard count linear in corpus size (~150k shards at
    * 10^10 docs -> 1.5M candidate rows per query). 4096 shards keeps that
    * merge input small at any corpus size while leaving plenty of
    * parallelism for the per-shard WAND tasks.
    */
  val TargetMaxShards: Long = 4096L

  /** Floor on shard width (2^13 = 8k docs/shard) so small corpora don't
    * shatter into per-doc shards with per-group overhead dominating.
    */
  val MinShardBits: Int = 13

  /** Schema of every `postings/grp=G` table: a [[PackedPostings]] `toDF()`. */
  val PostingsSchema: StructType = Encoders.product[PackedPostings].schema

  /** Shape of the df view [[dfOf]]. */
  val DfSchema: StructType = new StructType().add("term", StringType).add("df", LongType)

  /** (term, df) of a postings relation: Σ nPostings per term (a row counts
    * the term's docs in its shard and group); `blocks` is never scanned.
    */
  def dfOf(postings: Dataset[PackedPostings]): DataFrame =
    postings.groupBy(col("term")).agg(sum(col("nPostings")).as("df"))

  /** Auto-derived shardBits for a corpus with dense doc ids in
    * [0, nextDocId): the smallest width keeping numShards <=
    * [[TargetMaxShards]], floored at [[MinShardBits]]. Used by [[build]]
    * when the caller doesn't pin shardBits; appends inherit the built
    * index's value from the commit record (shard assignment is immutable).
    */
  def deriveShardBits(nextDocId: Long): Int = {
    val maxId = math.max(0L, nextDocId - 1)
    var bits = MinShardBits
    while ((maxId >> bits) >= TargetMaxShards && bits < 62) bits += 1
    bits
  }

  // ---- tokenized -> postings with dl ----------------------------------

  /** (doc_id, term, tf, dl) from (doc_id, terms) with NO shuffle: a doc's
    * term frequencies are a pure function of its own token array, so tf is
    * counted in a narrow per-row kernel instead of explode + groupBy —
    * at web scale this removes an entire full-corpus shuffle from the
    * build (the only remaining wide op is the (shard, term) pack shuffle).
    */
  def postingsWithDl(tokenized: DataFrame): DataFrame = {
    val spark = tokenized.sparkSession
    import spark.implicits._
    tokenized.select(col("doc_id"), col("terms"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, terms) =>
        val dl = terms.length.toLong
        val m = new java.util.HashMap[String, Long]()
        terms.foreach(t => m.merge(t, 1L, _ + _))
        val out = new Array[(Long, String, Long, Long)](m.size)
        var i = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out(i) = (id, e.getKey, e.getValue, dl)
          i += 1
        }
        out
      }
      .toDF("doc_id", "term", "tf", "dl")
  }

  // ---- pack ------------------------------------------------------------

  /** Per-build counters filled by the pack tasks (terms, postings,
    * compressed bytes) — avoids a second read of the committed output just
    * to count a group for the commit record.
    */
  final class PackCounters(spark: SparkSession) extends Serializable {
    val terms = spark.sparkContext.longAccumulator("packedTerms")
    val postings = spark.sparkContext.longAccumulator("packedPostings")
    val bytes = spark.sparkContext.longAccumulator("packedBytes")
  }

  /** Pack one group's postings into PackedPostings rows. Input must contain
    * (doc_id, term, tf, dl); rows are shuffled to co-locate (shard, term)
    * and sorted so the packer streams consecutive runs.
    */
  def packGroup(postingsDl: DataFrame, stats: IndexStats,
                counters: Option[PackCounters] = None,
                maxShards: Int = Int.MaxValue): Dataset[PackedPostings] = {
    val spark = postingsDl.sparkSession
    import spark.implicits._
    val blockSize = stats.blockSize
    // explicit partition count: pack work is CPU-bound per shard run; AQE's
    // byte-based coalescing would serialize it into a few long tasks. x4
    // over-decomposition smooths wave/tail imbalance (the pack stage is the
    // longest reduce in the build; at 16 fixed partitions its stragglers
    // left cores idle at higher parallelism). Bounded by the group's shard
    // count when the caller knows it: the partitioner hashes on `shard`, so
    // partitions beyond the distinct-shard count can never receive rows —
    // they only cost empty scheduled tasks (r7; measured at contract scale).
    val parts = math.max(
      math.min(spark.sparkContext.defaultParallelism * 4, maxShards), 1)
    val withShard = postingsDl
      .withColumn("shard", shiftright(col("doc_id"), stats.shardBits).cast("int"))
      .select(col("shard"), col("term"), col("doc_id"), col("tf"), col("dl"))
      .repartition(parts, col("shard"))
      .sortWithinPartitions(col("shard"), col("term"), col("doc_id"))
      .as[(Int, String, Long, Long, Long)]

    withShard.mapPartitions { it =>
      new Iterator[PackedPostings] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): PackedPostings = {
          val (shard, term, _, _, _) = buf.head
          val docs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val tfs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val dls = scala.collection.mutable.ArrayBuffer.empty[Long]
          while (buf.hasNext && buf.head._1 == shard && buf.head._2 == term) {
            val (_, _, d, tf, dl) = buf.next()
            docs += d; tfs += tf; dls += dl
          }
          val blocks = Codec.pack(docs.toArray, tfs.toArray, dls.toArray, blockSize)
            .map(b => PackedBlock(b.baseDocId, b.maxDocId, b.count, b.maxTf,
              b.minDl, b.docs, b.tfs, b.dls)).toArray
          counters.foreach { c =>
            c.terms.add(1L)
            c.postings.add(docs.length.toLong)
            c.bytes.add(blocks.iterator.map(b =>
              b.docs.length.toLong + b.tfs.length + b.dls.length).sum)
          }
          PackedPostings(shard, term, docs.length.toLong, blocks)
        }
      }
    }
  }

  // ---- full build with checkpoints ------------------------------------

  /** Build the packed index from a (doc_id, terms) frame.
    *
    * @param groups number of sequential commit units (shard ranges); each is
    *               an independent Spark job whose output is checkpointed.
    * @return the committed groups (including resumed ones). A build retried
    *         after its commit changes nothing and returns the committed
    *         groups.
    * @param stageInput stage `tokenizedIn` to parquet under the index dir
    *                    before building (resume checkpoint; pays one
    *                    write+read of the terms arrays). Pass false when the
    *                    caller's frame is ALREADY a cheap re-derivation from
    *                    a staged artifact with a physical doc_id column (so
    *                    the per-group doc_id range predicates push down) —
    *                    e.g. PagesPipeline, which stages extracted docs with
    *                    ids and tokenizes on the fly.
    * @param shardBits shard width (shard = doc_id >> shardBits); 0 (the
    *                   default) auto-derives via [[deriveShardBits]] from
    *                   the corpus's max doc id, keeping the shard count
    *                   bounded at any scale. Pin it only to reproduce a
    *                   fixed layout (tests, appends join an existing
    *                   layout automatically through the commit record).
    */
  def build(tokenizedIn: DataFrame, dir: String,
            shardBits: Int = 0, groups: Int = 4,
            p: Bm25Params = Bm25Params(),
            blockSize: Int = Codec.DefaultBlockSize,
            stageInput: Boolean = true): Seq[GroupManifest] = {
    val spark = tokenizedIn.sparkSession
    if (exists(dir)) return snapshot(dir).manifests
    if (!stageInput)
      return buildFrom(tokenizedIn, dir, shardBits, groups, p, blockSize)
    // The tokenized frame feeds stats AND every group job, and upstream it
    // usually contains the expensive extraction kernel. It is STAGED to
    // parquet once (a real checkpoint: resume skips straight past
    // extraction) and every consumer scans the cheap columnar artifact.
    // Runtime caching (persist) was measured pathological under many-core
    // local mode (MemoryStore churn) and is less resumable anyway.
    val docsPath = s"$dir/docs"
    if (!TableIO.committed(docsPath)) TableIO.write(tokenizedIn, docsPath)
    val tokenized = TableIO.read(spark, tokenizedIn.schema, docsPath)
    buildFrom(tokenized, dir, shardBits, groups, p, blockSize)
  }

  private def buildFrom(tokenized: DataFrame, dir: String,
                        shardBitsIn: Int, groups: Int,
                        p: Bm25Params,
                        blockSize: Int): Seq[GroupManifest] = {
    val spark = tokenized.sparkSession
    // auto shard sizing: one column-pruned max(doc_id) pass (ids are dense,
    // so max+1 is the corpus size) — only paid when the caller didn't pin
    val shardBits =
      if (shardBitsIn > 0) shardBitsIn
      else deriveShardBits(1L + tokenized
        .agg(coalesce(max(col("doc_id")), lit(-1L))).first().getLong(0))

    // stage 1: ONE column-pruned pass computing per-shard (docs, sumDl) —
    // this both fixes the contiguous group split and yields exact per-group
    // corpus stats for the record (one row per shard; shard count is
    // bounded by design, so the collect is vocabulary-scale, not corpus-scale)
    val perShard = tokenized
      .groupBy(shiftright(col("doc_id"), shardBits).cast("int").as("shard"))
      .agg(count(lit(1)).as("docs"), sum(size(col("terms")).cast("long")).as("sum_dl"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    val maxShard = if (perShard.isEmpty) -1 else perShard.last._1
    val shardsPerGroup = math.max(1, (maxShard + groups) / groups) // ceil
    def groupOf(shard: Int): Int = math.min(shard / shardsPerGroup, groups - 1)
    val groupTotals: Map[Int, (Long, Long)] = perShard
      .groupBy { case (s, _, _) => groupOf(s) }
      .map { case (g, rows) => g -> (rows.map(_._2).sum, rows.map(_._3).sum) }

    // stage 2: checkpointed group builds. Each group job is: RANGE-PRUNED
    // scan of the staged tokenized parquet (doc_id between the group's shard
    // bounds — pushed to parquet row-group stats, so the corpus is scanned
    // once per build in total) -> narrow per-doc tf kernel -> ONE (shard)
    // shuffle -> pack. Group jobs are INDEPENDENT (disjoint inputs, disjoint
    // output dirs, own counters), so they are submitted concurrently — Spark
    // schedules their stages over the shared executor pool, overlapping one
    // job's straggler tail with the next job's work. A group whose postings
    // write committed before a crash is not rebuilt.
    val packStats = IndexStats(0L, 0.0, 0.0, p.k1, p.b, p.epsilon, shardBits, blockSize)
    def buildGroup(g: Int): GroupManifest = {
      val path = s"$dir/postings/grp=$g"
      val (gDocs, gSumDl) = groupTotals.getOrElse(g, (0L, 0L))
      if (TableIO.committed(path)) { // resume: count what the committed write holds
        val blockBytes = aggregate(col("blocks"), lit(0L), (acc, b) =>
          acc + length(b("docs")) + length(b("tfs")) + length(b("dls")))
        val r = TableIO.read(spark, PostingsSchema, path)
          .agg(count(lit(1)), coalesce(sum(col("nPostings")), lit(0L)),
            coalesce(sum(blockBytes), lit(0L)))
          .first()
        GroupManifest(g, r.getLong(0), r.getLong(1), r.getLong(2), gDocs, gSumDl)
      } else {
        val counters = new PackCounters(spark)
        val lo = g.toLong * shardsPerGroup << shardBits
        val hi =
          if (g == groups - 1) Long.MaxValue
          else (g.toLong + 1) * shardsPerGroup << shardBits
        val groupDocs = tokenized.filter(col("doc_id") >= lo && col("doc_id") < hi)
        val nShardsInGroup = perShard.count { case (sh, _, _) => groupOf(sh) == g }
        val packed = packGroup(postingsWithDl(groupDocs), packStats, Some(counters),
          maxShards = math.max(nShardsInGroup, 1))
        // shard stays a DATA column (files are already clustered by shard via
        // the sorted shuffle): a dir-per-shard partitionBy layout added one
        // driver-serial file commit + one scheduler task per shard dir on
        // every read — thousands of tiny files at web scale for zero pruning
        // benefit (queries prune by TERM, not shard)
        TableIO.write(packed.toDF(), path)
        GroupManifest(g, counters.terms.value, counters.postings.value,
          counters.bytes.value, gDocs, gSumDl)
      }
    }
    val manifests: Seq[GroupManifest] =
      if (groups == 1) Seq(buildGroup(0))
      else {
        import scala.concurrent.{Await, ExecutionContext, Future}
        import scala.concurrent.duration.Duration
        val pool = java.util.concurrent.Executors.newFixedThreadPool(groups)
        implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
        try Await.result(
          Future.sequence((0 until groups).map(g => Future(buildGroup(g)))),
          Duration.Inf)
        finally pool.shutdown()
      }

    // stage 3: the deterministic epsilon floor over the df view of the
    // packed rows, then the commit
    val n = manifests.map(_.docs).sum
    // n == 0 would make avgdl 0/0 = NaN and poison every downstream BM25
    // division silently. An empty corpus is a caller bug.
    require(n > 0, s"PackedIndex.build: empty corpus (0 docs) at $dir")
    commit(withAvgRawIdf(spark, IndexSnapshot(dir,
      IndexStats(n, manifests.map(_.sumDl).sum.toDouble / n, 0.0,
        p.k1, p.b, p.epsilon, shardBits, blockSize),
      manifests, n, Array.empty, Array.empty, None)))
    manifests
  }

  /** `snap` with avgRawIdf set from the df view of exactly its groups (an
    * uncommitted group dir never counts): what build, append, compact commit.
    */
  private def withAvgRawIdf(spark: SparkSession, snap: IndexSnapshot): IndexSnapshot =
    snap.copy(stats = snap.stats.copy(
      avgRawIdf = InvertedIndex.avgRawIdf(snap.df(spark), snap.stats.n)))

  // ---- incremental append ----------------------------------------------

  /** Append new documents to an existing index (reference analogue:
    * `FaissRetrieval.add` / `ElasticRetriever.ingest`,
    * `models/retrieval_auto.py:294-303,424-425`): the new docs pack into a
    * fresh group (docIds continue above the existing corpus), then the
    * stats are recomputed exactly from sums — the result is
    * BIT-IDENTICAL to a full rebuild over old+new (block bounds are
    * avgdl-independent, so existing groups stay valid under the new stats).
    *
    * Crash-safe + idempotent: the group goes to a dir the committed version
    * does not name (`postings/grp=N`), and the record naming it is
    * committed last. A retried append after any crash point
    * sees the same committed version, so it recomputes the same group id
    * and overwrites every partial artifact with identical content.
    *
    * @param newTokenized (doc_id, terms) where doc_id starts at the
    *                     existing corpus size (see
    *                     [[graft.corpus.PagesPipeline.appendPages]]).
    */
  def append(newTokenized: DataFrame, dir: String): GroupManifest =
    append(newTokenized, snapshot(dir))

  /** [[append]] onto the committed version `snap` (the caller's own read). */
  private[graft] def append(newTokenized: DataFrame, snap: IndexSnapshot): GroupManifest = {
    val spark = newTokenized.sparkSession
    val dir = snap.dir
    val old = snap.stats
    val row = newTokenized
      .agg(count(lit(1)).as("n"), sum(size(col("terms")).cast("long")).as("sum_dl"))
      .first()
    val nNew = row.getLong(0)
    val newSumDl = row.getLong(1)
    val n = old.n + nNew
    require(n > 0, s"append: index at $dir would still hold 0 docs")
    val nextGroup = snap.nextGroup

    val counters = new PackCounters(spark)
    val batchShards = // new ids are dense in [nextDocId, nextDocId + nNew)
      (((snap.nextDocId + nNew - 1) >> old.shardBits) - (snap.nextDocId >> old.shardBits) + 1).toInt
    TableIO.write(packGroup(postingsWithDl(newTokenized), old, Some(counters),
      maxShards = math.max(batchShards, 1)).toDF(),
      s"$dir/postings/grp=$nextGroup")

    val man = GroupManifest(nextGroup, counters.terms.value,
      counters.postings.value, counters.bytes.value, nNew, newSumDl)
    val manifests = snap.manifests :+ man
    commit(withAvgRawIdf(spark, snap.copy(
      stats = old.copy(n = n, avgdl = manifests.map(_.sumDl).sum.toDouble / n),
      manifests = manifests,
      nextDocId = snap.nextDocId + nNew)))
    man
  }

  // ---- the commit record ------------------------------------------------

  /** One committed group: its counters and its exact corpus totals (n,
    * avgdl and doc-id offsets derive from the docs/sumDl sums).
    */
  final case class GroupManifest(group: Int, terms: Long, postings: Long,
                                 bytes: Long, docs: Long, sumDl: Long)

  private def recordPath(dir: String): String = s"$dir/index.json"

  /** True iff `dir` holds a committed index. */
  def exists(dir: String): Boolean = MetaIO.exists(recordPath(dir))

  /** Publish `snap` as the index's commit record, replacing the previous
    * one all-or-nothing: the last step of every write. n and avgdl are not
    * stored ([[snapshot]] derives them from the groups), so `snap.stats`
    * must hold exactly those sums.
    */
  private[graft] def commit(snap: IndexSnapshot): Unit = {
    val s = snap.stats
    require(s.n == snap.manifests.map(_.docs).sum &&
      s.avgdl == snap.manifests.map(_.sumDl).sum.toDouble / s.n,
      s"commit: stats n=${s.n} avgdl=${s.avgdl} are not the sums of the groups at ${snap.dir}")
    val groups = snap.manifests.map(g => JObject("group" -> JLong(g.group),
      "docs" -> JLong(g.docs), "sumDl" -> JLong(g.sumDl), "terms" -> JLong(g.terms),
      "postings" -> JLong(g.postings), "bytes" -> JLong(g.bytes)))
    val arm = snap.positional.toList.map(a => "positional" -> JObject(
      "segments" -> JArray(a.segments.map(JString(_)).toList),
      "covers" -> JArray(a.covers.toList.sorted.map(JLong(_)))))
    JsonRecord.write(recordPath(snap.dir), List(
      "k1" -> JDouble(s.k1), "b" -> JDouble(s.b), "epsilon" -> JDouble(s.epsilon),
      "shardBits" -> JLong(s.shardBits), "blockSize" -> JLong(s.blockSize),
      "avgRawIdf" -> JDouble(s.avgRawIdf),
      "nextDocId" -> JLong(snap.nextDocId), "groups" -> JArray(groups.toList),
      "tombstones" -> JsonRecord.ids(snap.tombstones),
      "holes" -> JsonRecord.ids(snap.holes)) ++ arm)
  }

  /** The committed version of the index at `dir`: one read of its commit
    * record. A call that serves or changes the index takes one snapshot and
    * reads everything from it, so it sees one version even while a writer
    * commits (see [[IndexSnapshot]] for how long a version stays readable).
    */
  def snapshot(dir: String): IndexSnapshot = {
    val (j, r) = JsonRecord.read("PackedIndex.snapshot", dir, recordPath(dir))
    import j._
    val manifests = arr(r("groups")).map(obj).map(g => GroupManifest(long(g("group")).toInt,
      long(g("terms")), long(g("postings")), long(g("bytes")), long(g("docs")), long(g("sumDl"))))
    val n = manifests.map(_.docs).sum
    IndexSnapshot(dir,
      IndexStats(n, manifests.map(_.sumDl).sum.toDouble / n, dbl(r("avgRawIdf")),
        dbl(r("k1")), dbl(r("b")), dbl(r("epsilon")),
        long(r("shardBits")).toInt, long(r("blockSize")).toInt),
      manifests, long(r("nextDocId")),
      ids(r("tombstones")), ids(r("holes")),
      r.get("positional").map(obj).map(a => PositionalArm(arr(a("segments")).map(str),
        arr(a("covers")).map(long(_).toInt).toSet)))
  }

  /** The committed version's df as (term, df) ([[IndexSnapshot.df]]). */
  def loadDf(spark: SparkSession, dir: String): DataFrame = snapshot(dir).df(spark)

  /** Physically apply tombstones (the Lucene segment-merge analogue):
    * rewrite every posting list minus the deleted docs, recompute the
    * corpus stats over the survivors, and emit a complete fresh index at
    * `outDir` with NO tombstones. Surviving docs KEEP their doc ids (no
    * renumbering — downstream joins/labels/judgments stay valid, and the
    * shard assignment doc_id >> shardBits is unchanged), so query results
    * are bit-identical to a fresh build over the surviving corpus. The old
    * index is untouched; the caller swaps dirs when ready.
    *
    * Stats are exact: n' = Σ group docs - |live tombstones| (tombstones
    * naming docs a previous compaction already removed — holes — are
    * excluded from the arithmetic), sumDl' = sumDl - Σ dl(deleted) with the
    * deleted dls read from the postings themselves (block-range pruned; a
    * deleted doc with no postings is an empty doc whose dl is 0).
    *
    * One decode+repack pass over the postings — the same per-(shard,term)
    * kernel shape as the original pack stage, so the compaction scales
    * exactly like a build (narrow per-row work, no shuffle). The compacted
    * record keeps the original nextDocId, so later PackedIndex.append calls
    * on the compacted dir keep allocating above the old range; note
    * PagesPipeline.appendPages needs the pipeline's docs_raw staging and so
    * operates on the ORIGINAL lineage dir, not a compacted copy. A
    * positional arm is carried along; one whose lineage stamp is not
    * current fails the compaction before anything is written. The record is
    * committed last, so a crashed compaction leaves `outDir` unreadable.
    */
  def compact(spark: SparkSession, dir: String, outDir: String): Unit = {
    import spark.implicits._
    val snap = snapshot(dir)
    val stats = snap.stats
    val committed = snap.nextDocId
    // compactInto stamps the carried arm current: a stale one must fail
    // here, before anything is written (load checks the stamp)
    val positional = snap.positional.map(_ => PositionalIndex.load(spark, snap))
    // LIVE tombstones only: ids of docs a PREVIOUS compaction already
    // removed (holes) must not be subtracted again — delete() filters them
    // on entry, and intersecting against the committed hole set here keeps
    // the stat arithmetic correct regardless of how the tombstones were
    // produced (subtracting a nonexistent doc would silently skew
    // n/avgdl/idf for every query on the compacted index).
    val holes = snap.holes
    val tomb = snap.tombstones
      .filter(id => java.util.Arrays.binarySearch(holes, id) < 0)
    require(tomb.nonEmpty, s"compact: no live tombstones at $dir")
    require(tomb.forall(id => id >= 0 && id < committed),
      s"compact: tombstoned ids outside the dense [0, $committed) doc range")
    val preN = stats.n
    val n2 = preN - tomb.length
    require(n2 > 0, s"compact: all $preN docs deleted — delete the index instead")

    // pass 1 (block-range pruned): dl of every deleted doc that has
    // postings. Deduped per PARTITION in a task-local map (a deleted doc's
    // postings are shard-local, so a partition's duplicates collapse to one
    // row per deleted doc) and again in the driver's toMap — the previous
    // .distinct() paid a full shuffle for the same ≤|tombstones|-bounded
    // result (r7).
    val bcTomb = spark.sparkContext.broadcast(tomb)
    val postings = snap.postings(spark)
    val deletedDl: Map[Long, Long] = postings
      .mapPartitions { it =>
        val t = bcTomb.value
        val local = new java.util.HashMap[Long, Long]()
        it.foreach { pp =>
          pp.blocks.iterator
            .filter { b =>
              // any tombstone inside [base, maxDoc]?
              val i = java.util.Arrays.binarySearch(t, b.base)
              val from = if (i >= 0) i else -i - 1
              from < t.length && t(from) <= b.maxDoc
            }
            .foreach { b =>
              val cb = b.toCodec
              cb.decodeDocIds.iterator.zip(cb.decodeDls.iterator)
                .filter { case (d, _) => java.util.Arrays.binarySearch(t, d) >= 0 }
                .foreach { case (d, dl) => local.put(d, dl) }
            }
        }
        import scala.jdk.CollectionConverters._
        local.asScala.iterator.map { case (d, dl) => (d, dl) }
      }.collect().toMap
    val sumDl2 = snap.manifests.map(_.sumDl).sum - deletedDl.values.sum

    // pass 2: decode -> drop deleted -> repack with the same codec. The
    // surviving sorted doc array re-blocks exactly as a fresh build would.
    // Lists whose block [base, maxDoc] ranges touch no tombstone pass
    // through HEADER-ONLY (no varint decode) — a selective GDPR-style
    // delete costs work proportional to the affected lists, not the index.
    val blockSize = stats.blockSize
    // the group's counters (terms/postings) accumulate on the repack write
    // itself — no read-back aggregation job (r7; same accumulator role as
    // the build's PackCounters: counters only, the exact stats n2/sumDl2
    // come from the arithmetic above)
    val cTerms = spark.sparkContext.longAccumulator("compactTerms")
    val cPostings = spark.sparkContext.longAccumulator("compactPostings")
    val repacked = postings.mapPartitions { it =>
      val t = bcTomb.value
      def touched(b: PackedBlock): Boolean = {
        val i = java.util.Arrays.binarySearch(t, b.base)
        val from = if (i >= 0) i else -i - 1
        from < t.length && t(from) <= b.maxDoc
      }
      it.flatMap { pp =>
        if (!pp.blocks.exists(touched)) {
          cTerms.add(1L); cPostings.add(pp.nPostings)
          Iterator.single(pp) // header-only pass
        } else {
          val blocks = pp.blocks.map(_.toCodec)
          val docs = blocks.flatMap(_.decodeDocIds)
          val keep = docs.map(d => java.util.Arrays.binarySearch(t, d) < 0)
          val tfs = blocks.flatMap(_.decodeTfs)
          val dls = blocks.flatMap(_.decodeDls)
          val kd = Array.newBuilder[Long]
          val kt = Array.newBuilder[Long]
          val kl = Array.newBuilder[Long]
          var i = 0
          while (i < docs.length) {
            if (keep(i)) { kd += docs(i); kt += tfs(i); kl += dls(i) }
            i += 1
          }
          val kdA = kd.result()
          if (kdA.isEmpty) Iterator.empty // term vanished from this shard
          else {
            cTerms.add(1L); cPostings.add(kdA.length.toLong)
            Iterator.single(PackedPostings(pp.shard, pp.term, kdA.length.toLong,
              Codec.pack(kdA, kt.result(), kl.result(), blockSize)
                .map(b => PackedBlock(b.baseDocId, b.maxDocId, b.count, b.maxTf,
                  b.minDl, b.docs, b.tfs, b.dls)).toArray))
          }
        }
      }
    }
    TableIO.write(repacked.toDF(), s"$outDir/postings/grp=0")
    val group = GroupManifest(0, cTerms.value, cPostings.value, 0L, n2, sumDl2)
    // carry the positional arm (if present): repack through the same
    // tombstone-drop kernel, so phrase/proximity search composes with the
    // delete lifecycle instead of failing loudly until a manual rebuild
    val arm = positional.map(PositionalIndex.compactInto(_, outDir, bcTomb, blockSize))
    // the id high-water mark survives compaction: group docs is the
    // SURVIVOR count (feeds stats on later appends), while id allocation
    // keeps starting above the ORIGINAL range — deleted ids are dead
    // forever, never recycled. The holes (dead-id ledger) gain the ids
    // THIS compaction removed, so a re-issued delete of an already erased
    // doc is a no-op instead of corrupting the stat arithmetic.
    commit(withAvgRawIdf(spark, IndexSnapshot(outDir,
      stats.copy(n = n2, avgdl = sumDl2.toDouble / n2), Seq(group), committed,
      Array.empty, (holes ++ tomb).distinct.sorted, arm)))
  }

  /** Tombstone-set ceiling: every query broadcasts the full sorted id array
    * (one binary search per candidate doc in the WAND loop), so the set must
    * stay broadcast-sized. 1M ids = 8 MB on the wire — comfortably under
    * Spark's broadcast sweet spot, far above any selective (GDPR-style)
    * delete volume. A delete that would push past the bound fails loudly
    * with the remedy (compact, which empties the set) rather than degrading
    * every future query; mass deletes should be a filtered rebuild anyway.
    */
  val MaxTombstones: Int = 1 << 20

  /** Visibility-only delete (Lucene-style tombstones): marks doc ids as
    * deleted so every query path excludes them, WITHOUT rewriting postings
    * or corpus statistics — df/idf/avgdl stay frozen until a rebuild, the
    * same contract as Lucene's deleted docs before a segment merge. At
    * 100 TB this is the only viable per-document delete (a GDPR erasure
    * must not force an index rebuild). Idempotent and crash-safe: the
    * merged sorted set is committed with the rest of the record (readers
    * see either the old or the new complete set). Deleted ids are NOT
    * reusable — append() keeps offsetting from nextDocId, which tombstones
    * never change. Ids must name docs the index has actually committed
    * (fail-loudly): a tombstone at or above nextDocId would silently
    * suppress a FUTURE doc born later under that id. Ids of docs a past
    * compaction already removed (holes) are dropped as no-ops — the doc is
    * already physically erased. The merged set is bounded by
    * `maxTombstones` (see [[MaxTombstones]]); past it the delete fails with
    * the remedy rather than degrading every query's broadcast.
    */
  def delete(dir: String, docIds: Seq[Long],
             maxTombstones: Int = MaxTombstones): Unit = {
    val snap = snapshot(dir)
    val limit = snap.nextDocId
    require(docIds.forall(id => id >= 0 && id < limit),
      s"delete: doc ids outside the committed [0, $limit) range: " +
        docIds.filterNot(id => id >= 0 && id < limit).take(5).mkString(","))
    // liveness, not just range: after a compaction the [0, nextDocId) range
    // contains HOLES — ids of docs already physically removed. Deleting one
    // again (a re-issued GDPR erasure) is a no-op on an already-erased doc;
    // silently letting it into the tombstone set would make the NEXT
    // compact() subtract a nonexistent doc from n/sumDl.
    val liveIds =
      docIds.filter(id => java.util.Arrays.binarySearch(snap.holes, id) < 0)
    val merged = (snap.tombstones ++ liveIds).distinct.sorted
    require(merged.length <= maxTombstones,
      s"delete: tombstone set would reach ${merged.length} ids " +
        s"(bound $maxTombstones) — run compact() to apply them physically " +
        "(or rebuild over a filtered corpus for mass deletes)")
    commit(snap.copy(tombstones = merged))
  }
}
