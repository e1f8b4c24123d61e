package graft

import graft.ann.{Ann, IvfIndex}
import org.apache.spark.sql.functions._

/** Persisted IVF index: parity with the in-memory kernel, frozen-centroid
  * appends, and the cell-pruning pushdown.
  */
class IvfIndexSpec extends SparkSpec {
  import spark.implicits._

  private def randCorpus(n: Int, dim: Int, seed: Int) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian())))
      .toDF("vec_id", "vec")
  }

  private def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("vec_id"),
      r.getAs[Double]("cos"), r.getAs[Int]("rank"))).toSet

  test("persisted search == in-memory ivfTopK on the same centroids (bit-identical)") {
    val corpus = randCorpus(400, 16, 5)
    val queries = randCorpus(5, 16, 99)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val dir = scratchDir("ivfidx")
    IvfIndex.build(corpus, dir, nCells = 8, iters = 3)
    val cents = IvfIndex.snapshot(dir).centroids
      .toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cell_id", "cvec")
    val inMem = rows(Ann.ivfTopK(queries,
      Ann.assignCells(corpus, cents), cents, k = 10, nProbe = 3))
    val persisted = rows(IvfIndex.search(spark, dir, queries, k = 10, nProbe = 3))
    assert(persisted == inMem && inMem.nonEmpty)
  }

  test("append assigns against frozen centroids; search covers old + new") {
    val base = randCorpus(300, 16, 7)
    val extraRaw = randCorpus(100, 16, 8)
    val extra = extraRaw.select((col("vec_id") + 300L).as("vec_id"), col("vec"))
    val queries = randCorpus(4, 16, 101)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val dir = scratchDir("ivfapp")
    IvfIndex.build(base, dir, nCells = 8, iters = 3)
    IvfIndex.append(extra, dir)
    // equivalence: persisted(base + appended) == in-memory over the FULL
    // corpus assigned with the BASE-trained centroids (faiss add semantics)
    val cents = IvfIndex.snapshot(dir).centroids
      .toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cell_id", "cvec")
    val full = base.union(extra)
    val want = rows(Ann.ivfTopK(queries,
      Ann.assignCells(full, cents), cents, k = 10, nProbe = 4))
    val got = rows(IvfIndex.search(spark, dir, queries, k = 10, nProbe = 4))
    assert(got == want && want.nonEmpty)
    // appended ids are actually retrievable
    val hitIds = got.map(_._2)
    assert(hitIds.exists(_ >= 300L) || want.forall(_._2 < 300L))
    // the record counts each committed segment; nVecs is their sum
    val snap = IvfIndex.snapshot(dir)
    assert(snap.segments == Seq(IvfIndex.Segment("cells", 300L), IvfIndex.Segment("cells-a1", 100L)))
    assert(snap.nVecs == 400L)
  }

  test("probe-time scan pushes the cell_id filter into parquet") {
    val corpus = randCorpus(500, 8, 11)
    val queries = randCorpus(2, 8, 103)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val dir = scratchDir("ivfplan")
    IvfIndex.build(corpus, dir, nCells = 8, iters = 2)
    val cents = IvfIndex.snapshot(dir).centroids
      .toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cell_id", "cvec")
    val probes = Ann.probeCells(queries, cents, nProbe = 2)
    val probedCells = probes.select(col("cell_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    assert(probedCells.length < 8, "fixture degenerate: all cells probed")
    val scan = IvfIndex.snapshot(dir).cells(spark)
      .filter(col("cell_id").isin(probedCells: _*))
    val plan = scan.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("cell_id"),
      s"cell filter not pushed to the parquet scan:\n${plan.take(800)}")
  }

  test("tombstone delete and allowlist filtering compose on the persisted index") {
    val corpus = randCorpus(300, 16, 17)
    val queries = randCorpus(3, 16, 109)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val dir = scratchDir("ivfdel")
    IvfIndex.build(corpus, dir, nCells = 8, iters = 2)
    val before = rows(IvfIndex.search(spark, dir, queries, k = 10, nProbe = 8))
    assert(before.nonEmpty)
    // delete the top hit of each query: it must vanish, survivors keep
    // their exact cosine (visibility-only semantics)
    val dead = before.filter(_._4 == 1).map(_._2).toSeq.distinct
    IvfIndex.delete(spark, dir, dead)
    val after = rows(IvfIndex.search(spark, dir, queries, k = 10, nProbe = 8))
    assert(!after.exists(r => dead.contains(r._2)), s"deleted ids resurfaced")
    val beforeScores = before.map(r => (r._1, r._2) -> r._3).toMap
    after.foreach { r =>
      beforeScores.get((r._1, r._2)).foreach(s => assert(s == r._3)) }
    // re-delete is a no-op; allowlist restricts candidates further
    IvfIndex.delete(spark, dir, dead)
    val allowed = after.map(_._2).toArray.distinct.sorted.take(5)
    val filtered = rows(IvfIndex.search(spark, dir, queries, k = 10, nProbe = 8,
      allowedIds = Some(allowed)))
    assert(filtered.nonEmpty && filtered.forall(r => allowed.contains(r._2)))
    assert(!filtered.exists(r => dead.contains(r._2)))
  }

  test("named segments make replayed appends no-ops; build refuses a committed dir") {
    val corpus = randCorpus(200, 8, 19)
    val extra = randCorpus(50, 8, 20)
      .select((col("vec_id") + 200L).as("vec_id"), col("vec"))
    val queries = randCorpus(3, 8, 111)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val dir = scratchDir("ivfreplay")
    IvfIndex.build(corpus, dir, nCells = 4, iters = 2, segmentName = "cells-b0")
    IvfIndex.append(extra, dir, segmentName = Some("cells-b1"))
    val once = rows(IvfIndex.search(spark, dir, queries, k = 10, nProbe = 4))
    val record = graft.io.MetaIO.readString(s"$dir/ivf.json")
    def stamps = Seq("ivf.json", "cells-b0/_SUCCESS", "cells-b1/_SUCCESS")
      .map(f => new java.io.File(s"$dir/$f").lastModified())
    val stamped = stamps
    // replayed micro-batch (same segment name): must not duplicate vectors
    IvfIndex.append(extra, dir, segmentName = Some("cells-b1"))
    // replayed BOOTSTRAP batch arriving on the append path (the crash
    // window between index commit and stream checkpoint): also a no-op
    IvfIndex.append(corpus, dir, segmentName = Some("cells-b0"))
    val twice = rows(IvfIndex.search(spark, dir, queries, k = 10, nProbe = 4))
    assert(twice == once && once.nonEmpty)
    // a no-op writes nothing: neither the record nor a segment
    assert(graft.io.MetaIO.readString(s"$dir/ivf.json") == record && stamps == stamped)
    assert(IvfIndex.snapshot(dir).nVecs == 250L)
    // retrain-in-place is refused: rebuild targets a fresh dir + swap
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.build(corpus, dir, nCells = 4, iters = 2)
    }
    assert(ex.getMessage.contains("fresh dir"))
    // only a caller-given name is a replay: an unnamed append whose
    // automatic name a named segment already took lands under the next
    // free name instead of dropping its batch
    val auto = scratchDir("ivfautoname")
    IvfIndex.build(corpus, auto, nCells = 4, iters = 2)
    IvfIndex.append(extra, auto, segmentName = Some("cells-a2"))
    val more = randCorpus(30, 8, 21).select((col("vec_id") + 250L).as("vec_id"), col("vec"))
    IvfIndex.append(more, auto)
    val grown = IvfIndex.snapshot(auto)
    assert(grown.segments.map(_.name) == Seq("cells", "cells-a2", "cells-a3"))
    assert(grown.nVecs == 280L)
  }

  test("id-set filters above the isin threshold (broadcast join path) agree with small sets") {
    assert(graft.query.Wand.IsinThreshold == 512)
    val corpus = randCorpus(700, 8, 23)
    val queries = randCorpus(3, 8, 113)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val dir = scratchDir("ivfbig")
    IvfIndex.build(corpus, dir, nCells = 4, iters = 2)
    // allowlist of 600 ids (> threshold -> broadcast semi-join) must equal
    // brute restriction computed from the unfiltered result
    val allowed = (0L until 600L).toArray
    val unfiltered = rows(IvfIndex.search(spark, dir, queries, k = 700, nProbe = 4))
    val viaBig = rows(IvfIndex.search(spark, dir, queries, k = 700, nProbe = 4,
      allowedIds = Some(allowed)))
    val wantIds = unfiltered.filter(r => r._2 < 600L).map(r => (r._1, r._2, r._3))
    assert(viaBig.map(r => (r._1, r._2, r._3)) == wantIds && viaBig.nonEmpty)
    // tombstone set of 600 ids (> threshold -> broadcast anti-join)
    IvfIndex.delete(spark, dir, (100L until 700L))
    val afterDel = rows(IvfIndex.search(spark, dir, queries, k = 700, nProbe = 4))
    assert(afterDel.nonEmpty && afterDel.forall(_._2 < 100L))
    assert(afterDel.map(r => (r._1, r._2, r._3)) ==
      unfiltered.filter(_._2 < 100L).map(r => (r._1, r._2, r._3)))
  }

  test("IVF index lifecycle through a file:// URI == scheme-less path") {
    val corpus = randCorpus(200, 8, 13)
    val queries = randCorpus(3, 8, 107)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    def run(uri: Boolean) = {
      val local = scratchDir("ivfh")
      val dir = if (uri) s"file://$local" else local
      IvfIndex.build(corpus, dir, nCells = 4, iters = 2)
      IvfIndex.delete(spark, dir, Seq(7L, 11L))
      IvfIndex.append(randCorpus(20, 8, 17)
        .withColumn("vec_id", col("vec_id") + 200L), dir)
      val got = rows(IvfIndex.search(spark, dir, queries, k = 5, nProbe = 2))
      got
    }
    val viaPath = run(uri = false)
    val viaUri = run(uri = true)
    assert(viaPath == viaUri && viaPath.nonEmpty)
  }

  test("compact applies tombstones physically; re-delete of a compacted id is a no-op") {
    val corpus = randCorpus(300, 16, 29)
    val queries = randCorpus(4, 16, 115)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val dir = scratchDir("ivfcpt-src")
    val out = scratchDir("ivfcpt-out")
    IvfIndex.build(corpus, dir, nCells = 8, iters = 3)
    val dead = (0L until 60L).toSeq
    IvfIndex.delete(spark, dir, dead)
    val tombstoned = rows(IvfIndex.search(spark, dir, queries, k = 10, nProbe = 8))
    IvfIndex.compact(spark, dir, out)
    // compacted serving == tombstoned serving on the source (same frozen
    // centroids, survivors only) — and == the in-memory kernel over the
    // survivor corpus assigned with those centroids (bit-identical)
    val compacted = rows(IvfIndex.search(spark, out, queries, k = 10, nProbe = 8))
    assert(compacted == tombstoned && compacted.nonEmpty)
    val cents = IvfIndex.snapshot(out).centroids
      .toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cell_id", "cvec")
    val survivors = corpus.filter(col("vec_id") >= 60L)
    val want = rows(Ann.ivfTopK(queries,
      Ann.assignCells(survivors, cents), cents, k = 10, nProbe = 8))
    assert(compacted == want)
    // nVecs recomputed over survivors; tombstones gone; holes carry the dead
    val snap = IvfIndex.snapshot(out)
    assert(snap.nVecs == 240L, snap.segments)
    assert(snap.tombstones.isEmpty)
    assert(snap.holes.toSeq == dead)
    // re-issued erasure of an already-compacted id: no-op, not an error,
    // and it must NOT enter the tombstone set
    IvfIndex.delete(spark, out, Seq(10L, 20L))
    assert(IvfIndex.snapshot(out).tombstones.isEmpty)
    assert(rows(IvfIndex.search(spark, out, queries, k = 10, nProbe = 8)) == compacted)
  }

  test("delete fails loudly on ids that never named a committed vector") {
    val corpus = randCorpus(100, 8, 31)
    val dir = scratchDir("ivfdel-unk")
    IvfIndex.build(corpus, dir, nCells = 4, iters = 2)
    val ex = intercept[IllegalArgumentException] {
      IvfIndex.delete(spark, dir, Seq(5L, 9999L))
    }
    assert(ex.getMessage.contains("9999"))
    assert(IvfIndex.snapshot(dir).tombstones.isEmpty) // nothing half-applied
  }

  test("f32 storage: half the vec bytes, rank-identical serving to f64") {
    val corpus = randCorpus(400, 32, 37)
    val queries = randCorpus(5, 32, 117)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    val d64 = scratchDir("ivf64")
    val d32 = scratchDir("ivf32")
    IvfIndex.build(corpus, d64, nCells = 8, iters = 3)
    IvfIndex.build(corpus, d32, nCells = 8, iters = 3, storage = "f32")
    // training happens BEFORE quantization -> identical centroids
    assert(IvfIndex.snapshot(d64).centroids.map { case (i, v) => (i, v.toSeq) }.toSeq ==
      IvfIndex.snapshot(d32).centroids.map { case (i, v) => (i, v.toSeq) }.toSeq)
    // persisted element type is FLOAT and the dequantized read is double
    val sch = spark.read.parquet(s"$d32/cells").schema("vec").dataType
    assert(sch.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType, sch.toString)
    assert(IvfIndex.snapshot(d32).storage == "f32" && IvfIndex.snapshot(d64).storage == "f64")
    // the known-schema read's constant == what the writer wrote, per mode
    for ((d, mode) <- Seq(d64 -> "f64", d32 -> "f32"))
      assert(spark.read.parquet(s"$d/cells").schema.catalogString ==
        IvfIndex.segmentSchema(mode).catalogString, mode)
    // ranks (query_id, vec_id, rank) identical on this corpus; scores may
    // differ in last ulps from the quantization — that is the documented
    // contract (rank parity, not score hashes)
    val r64 = rows(IvfIndex.search(spark, d64, queries, k = 10, nProbe = 4))
      .map(r => (r._1, r._2, r._4))
    val r32 = rows(IvfIndex.search(spark, d32, queries, k = 10, nProbe = 4))
      .map(r => (r._1, r._2, r._4))
    assert(r32 == r64 && r64.nonEmpty)
    // appends inherit the index's storage mode
    val extra = randCorpus(50, 32, 38)
      .select((col("vec_id") + 400L).as("vec_id"), col("vec"))
    IvfIndex.append(extra, d32)
    val sch2 = spark.read.parquet(s"$d32/cells-a1").schema("vec").dataType
    assert(sch2.asInstanceOf[org.apache.spark.sql.types.ArrayType]
      .elementType == org.apache.spark.sql.types.FloatType)
  }

  test("autoCells derives ~sqrt(N) with clamps; build(nCells=0) uses it") {
    assert(IvfIndex.autoCells(100) == 16)     // lower clamp
    assert(IvfIndex.autoCells(1000) == 32)    // ceil(sqrt)
    assert(IvfIndex.autoCells(1000000000L) == 31623)
    assert(IvfIndex.autoCells(4000000000L) == 32768) // upper clamp
    val corpus = randCorpus(400, 8, 41)
    val dir = scratchDir("ivfauto")
    IvfIndex.build(corpus, dir, nCells = 0, iters = 2)
    // 400 vecs -> 20 derived cells; Lloyd may drop empty cells, so pin
    // nCells == surviving centroid count and within (2, 20]
    val nCells = IvfIndex.snapshot(dir).nCells
    assert(nCells == IvfIndex.snapshot(dir).centroids.length)
    assert(nCells > 2 && nCells <= 20, s"derived nCells=$nCells")
    val queries = randCorpus(3, 8, 119)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    assert(rows(IvfIndex.search(spark, dir, queries, k = 5, nProbe = 4)).nonEmpty)
  }
}
