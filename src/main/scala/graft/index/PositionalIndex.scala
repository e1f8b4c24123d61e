package graft.index

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.io.TableIO

/** Persisted positional posting row: all positional blocks of one term
  * within one doc-shard (see [[Codec.PosBlock]]).
  */
final case class PackedPosBlock(
    base: Long, maxDoc: Long, count: Int,
    docs: Array[Byte], cnts: Array[Byte], poss: Array[Byte]) {
  def toCodec: Codec.PosBlock =
    Codec.PosBlock(base, maxDoc, count, docs, cnts, poss)
}

final case class PosPostings(shard: Int, term: String, nPostings: Long,
                             blocks: Array[PackedPosBlock])

/** The positional arm as the commit record names it: its segment dirs
  * under the index dir, and its lineage stamp, the scoring groups it covers.
  */
final case class PositionalArm(segments: Seq[String], covers: Set[Int])

/** Optional POSITIONAL arm of the packed index: per-posting term-occurrence
  * offsets, stored as parallel `positions*` segment tables under the index
  * dir and sharded identically to the scoring postings (shard = doc_id >>
  * shardBits from the commit record), so every term of a doc lands in the
  * same shard and phrase verification is shard-local — no per-doc shuffle,
  * the same co-location argument as the WAND kernel.
  *
  * This removes phrase search's dependence on retaining the tokenized
  * corpus next to the index ([[graft.query.Phrase.topK]] re-reads candidate
  * token arrays; [[graft.query.Phrase.topKPositional]] works from the index
  * alone). No reference analogue — the reference has no phrase operator —
  * engine-surface extension per SURVEY §2.10.
  *
  * Build contract: [[build]] after the scoring build with the SAME
  * tokenized frame (one base segment); [[append]] after each
  * PackedIndex.append with the same offset batch (one segment per append,
  * cost ∝ the batch). The scoring index remains the source of truth for
  * corpus stats and commit lineage: the arm ([[PositionalArm]]) is a field
  * of the index's commit record, so each write of a segment is followed by
  * one commit of the whole record, and [[load]] compares the arm's stamp
  * with the groups of the same [[IndexSnapshot]]. An arm that missed an
  * append (or moved past the snapshot) fails loudly instead of silently
  * serving another version. The stamp checks lineage, not content: an arm
  * built from another corpus than its scoring groups is not caught.
  */
object PositionalIndex {

  /** Schema of every positional segment: a [[PosPostings]] `toDF()`. */
  val PostingsSchema: StructType = Encoders.product[PosPostings].schema

  /** (doc_id, term, positions) with NO shuffle: a doc's term-occurrence
    * offsets are a pure function of its own token array (the positional
    * sibling of [[PackedIndex.postingsWithDl]]).
    */
  def positionsPerDoc(tokenized: DataFrame): Dataset[(Long, String, Array[Long])] = {
    val spark = tokenized.sparkSession
    import spark.implicits._
    tokenized.select(col("doc_id"), col("terms"))
      .as[(Long, Seq[String])]
      .flatMap { case (id, terms) =>
        val m = new java.util.HashMap[String, scala.collection.mutable.ArrayBuffer[Long]]()
        var i = 0
        terms.foreach { t =>
          val buf = m.computeIfAbsent(t,
            _ => scala.collection.mutable.ArrayBuffer.empty[Long])
          buf += i.toLong
          i += 1
        }
        val out = new Array[(Long, String, Array[Long])](m.size)
        var j = 0
        val it = m.entrySet().iterator()
        while (it.hasNext) {
          val e = it.next()
          out(j) = (id, e.getKey, e.getValue.toArray) // appended in order -> sorted
          j += 1
        }
        out
      }
  }

  /** Pack a tokenized frame into positional rows (shared by build/append).
    * Same pack-shuffle shape as the scoring build: one (shard, term)
    * repartition with x4 over-decomposition, streamed runs.
    */
  private def pack(tokenized: DataFrame, shardBits: Int,
                   blockSize: Int, maxShards: Int = Int.MaxValue): DataFrame = {
    val spark = tokenized.sparkSession
    import spark.implicits._
    // capped at the arm's shard count — hash-on-shard cannot fill more
    // partitions than distinct shards (r7, matches PackedIndex.packGroup)
    val parts = math.max(
      math.min(spark.sparkContext.defaultParallelism * 4, maxShards), 1)
    val withShard = positionsPerDoc(tokenized)
      .toDF("doc_id", "term", "positions")
      .withColumn("shard", shiftright(col("doc_id"), shardBits).cast("int"))
      .repartition(parts, col("shard"))
      .sortWithinPartitions(col("shard"), col("term"), col("doc_id"))
      .select(col("shard"), col("term"), col("doc_id"), col("positions"))
      .as[(Int, String, Long, Array[Long])]
    withShard.mapPartitions { it =>
      new Iterator[PosPostings] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): PosPostings = {
          val (shard, term, _, _) = buf.head
          val docs = scala.collection.mutable.ArrayBuffer.empty[Long]
          val poss = scala.collection.mutable.ArrayBuffer.empty[Array[Long]]
          while (buf.hasNext && buf.head._1 == shard && buf.head._2 == term) {
            val (_, _, d, p) = buf.next()
            docs += d; poss += p
          }
          val blocks = Codec.packPositions(docs.toArray, poss.toArray, blockSize)
            .map(b => PackedPosBlock(b.baseDocId, b.maxDocId, b.count,
              b.docs, b.cnts, b.poss)).toArray
          PosPostings(shard, term, docs.length.toLong, blocks)
        }
      }
    }.toDF()
  }

  /** Build (or rebuild) the positional arm from the index's full corpus:
    * one base segment, replacing any appended segments, stamped with every
    * scoring group of the snapshot the build starts from. A rebuild writes
    * its base segment under the name the current arm does not use, so a
    * crash before the commit leaves the current arm intact.
    */
  def build(tokenized: DataFrame, dir: String): Unit = {
    val snap = PackedIndex.snapshot(dir)
    val base =
      if (snap.positional.exists(_.segments.contains("positions"))) "positions-b" else "positions"
    TableIO.write(pack(tokenized, snap.stats.shardBits, snap.stats.blockSize,
      maxShards = snap.numShards), s"$dir/$base")
    PackedIndex.commit(snap.copy(positional = Some(PositionalArm(Seq(base), snap.groups.toSet))))
  }

  /** Extend the positional arm with NEWLY APPENDED docs only (cost ∝ the
    * batch, like PackedIndex.append): the batch packs into a fresh segment
    * dir, then the commit record names it and stamps the newest scoring
    * group covered — a crash in between leaves an orphan dir that readers
    * never see and that an append retry overwrites (the segment id derives
    * from the committed arm). `newTokenized` must carry the docs' FINAL
    * ids, i.e. the same offset frame handed to PackedIndex.append, so the
    * batch is the newest scoring group: the append is refused unless
    * exactly that group is uncovered, and does nothing once it is covered
    * (a retry after the commit).
    */
  def append(newTokenized: DataFrame, dir: String): Unit = {
    val snap = PackedIndex.snapshot(dir)
    val stats = snap.stats
    val arm = snap.positional.getOrElse(throw new IllegalArgumentException(
      s"PositionalIndex.append: no positional arm at $dir — run PositionalIndex.build first"))
    val groups = snap.groups
    val uncovered = groups.filterNot(arm.covers)
    if (uncovered.isEmpty) return
    require(uncovered == Seq(groups.last),
      s"PositionalIndex.append: the arm at $dir misses scoring groups " +
        s"${uncovered.mkString("[", ",", "]")} and one batch is only the newest " +
        s"(${groups.last}) — rebuild it with PositionalIndex.build")
    val next = s"positions-a${arm.segments.length}"
    TableIO.write(pack(newTokenized, stats.shardBits, stats.blockSize), s"$dir/$next")
    PackedIndex.commit(snap.copy(positional =
      Some(PositionalArm(arm.segments :+ next, arm.covers + groups.last))))
  }

  /** Repack the positional arm minus the tombstoned docs into `outDir` —
    * the positional leg of [[PackedIndex.compact]], sharing its shape:
    * rows whose block [base, maxDoc] ranges touch no tombstone pass
    * through HEADER-ONLY; touched rows decode, drop deleted postings, and
    * re-block with the same codec. Ids are preserved and segments
    * collapse to one, stamped with the compacted index's single group 0;
    * [[PackedIndex.compact]] commits the returned arm with that group
    * (`arm` is the source arm as [[load]] read it, so it is current).
    */
  private[index] def compactInto(arm: Dataset[PosPostings], outDir: String,
                                 bcTomb: org.apache.spark.broadcast.Broadcast[Array[Long]],
                                 blockSize: Int): PositionalArm = {
    val spark = arm.sparkSession
    import spark.implicits._
    val repacked = arm.mapPartitions { it =>
      val t = bcTomb.value
      def touched(b: PackedPosBlock): Boolean = {
        val i = java.util.Arrays.binarySearch(t, b.base)
        val from = if (i >= 0) i else -i - 1
        from < t.length && t(from) <= b.maxDoc
      }
      it.flatMap { pp =>
        if (!pp.blocks.exists(touched)) Iterator.single(pp)
        else {
          val blocks = pp.blocks.map(_.toCodec)
          val docs = blocks.flatMap(_.decodeDocIds)
          val poss = blocks.flatMap(_.decodePositions)
          val kd = Array.newBuilder[Long]
          val kp = Array.newBuilder[Array[Long]]
          var i = 0
          while (i < docs.length) {
            if (java.util.Arrays.binarySearch(t, docs(i)) < 0) {
              kd += docs(i); kp += poss(i)
            }
            i += 1
          }
          val kdA = kd.result()
          if (kdA.isEmpty) Iterator.empty
          else Iterator.single(PosPostings(pp.shard, pp.term, kdA.length.toLong,
            Codec.packPositions(kdA, kp.result(), blockSize)
              .map(b => PackedPosBlock(b.baseDocId, b.maxDocId, b.count,
                b.docs, b.cnts, b.poss)).toArray))
        }
      }
    }
    TableIO.write(repacked.toDF(), s"$outDir/positions")
    PositionalArm(Seq("positions"), Set(0))
  }

  /** [[load]] against the index's current committed version. */
  def load(spark: SparkSession, dir: String): Dataset[PosPostings] =
    load(spark, PackedIndex.snapshot(dir))

  /** Read the positional arm serving `snap`: the segments its record
    * names, as one relation with the known [[PostingsSchema]]. The arm's
    * stamp is checked against `snap.groups` in memory — no file read, no
    * Spark job — and the read fails loudly when the arm is absent or covers
    * other groups (it missed an append, or moved past the snapshot).
    */
  def load(spark: SparkSession, snap: IndexSnapshot): Dataset[PosPostings] = {
    val dir = snap.dir
    val arm = snap.positional.getOrElse(throw new IllegalArgumentException(
      s"no positional arm at $dir — run PositionalIndex.build over the index corpus first"))
    val committed = snap.groups.toSet
    require(arm.covers == committed,
      s"positional arm at $dir is stale: it covers scoring groups " +
        s"${arm.covers.toSeq.sorted.mkString("[", ",", "]")} of the committed " +
        s"${committed.toSeq.sorted.mkString("[", ",", "]")} — run " +
        "PositionalIndex.append for the missed batch (or build to reset)")
    TableIO.read(spark, PostingsSchema, arm.segments.map(s => s"$dir/$s"): _*)
      .as(Encoders.product[PosPostings])
  }
}
