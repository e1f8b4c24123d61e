package graft

import graft.corpus.{PagesGen, PagesPipeline}
import graft.index.Salting
import graft.query.Wand
import org.apache.spark.sql.functions._

/** Incremental append == full rebuild (bit-identical), plus salting
  * primitives.
  */
class AppendSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("append to an index is bit-identical to a full rebuild") {
    val all = PagesGen.pages(spark, 300, partitions = 4).toDF()
    // docs_raw staging uses the same generator layout, so splitting by the
    // generation order reproduces the same per-doc content in both paths
    val dirIncr = scratchDir("incr")
    val dirFull = scratchDir("full")

    // full build over everything
    PagesPipeline.buildIndex(all, dirFull, shardBits = 6, groups = 2)

    // incremental: build over the first 200 (same partitioning), append 100
    val first = PagesGen.pages(spark, 200, partitions = 4).toDF()
    PagesPipeline.buildIndex(first, dirIncr, shardBits = 6, groups = 2)
    val extra = PagesGen.pages(spark, 300, partitions = 4)
      .toDF().join(
        spark.read.parquet(s"$dirIncr/docs_raw").select(col("url")),
        Seq("url"), "left_anti")
    val man = PagesPipeline.appendPages(extra, dirIncr)
    assert(man.postings > 0)

    val statsI = graft.index.PackedIndex.snapshot(dirIncr).stats
    val statsF = graft.index.PackedIndex.snapshot(dirFull).stats
    assert(statsI.n == statsF.n)
    assert(statsI.avgdl == statsF.avgdl) // exact-sum reconstruction
    assert(statsI.avgRawIdf == statsF.avgRawIdf)

    // same queries, both indexes: identical results; docIds may differ
    // between the two paths (different staging layouts), so compare via url
    // k larger than any match count: both indexes return ALL matched docs,
    // so the comparison is the full url -> score map (docIds differ between
    // the two paths, so equal-score ties order differently by design)
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000", 3L -> "the of and")
    def resolved(dir: String): Map[(Long, String), Double] = {
      val hits = Wand.search(spark, dir, queries, 1000)
      // map doc_id -> url via the same id-assignment the build used
      val ids =
        if (dir == dirIncr) {
          // docs_raw carries its dense doc_id; the append staging does not
          // (ids are offset at append time), so re-derive those
          val base = spark.read.parquet(s"$dir/docs_raw")
            .select(col("doc_id"), col("url"))
          val n0 = 200L
          val app = graft.index.DocIds.assignDense(
            spark.read.parquet(s"$dir/docs_raw_append_2"))
            .select((col("doc_id") + n0).as("doc_id"), col("url"))
          base.unionByName(app)
        } else spark.read.parquet(s"$dir/docs_raw")
          .select(col("doc_id"), col("url"))
      hits.join(ids, "doc_id")
        .select(col("query_id"), col("url"), col("score"))
        .collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[String]("url")) ->
          r.getAs[Double]("score")).toMap
    }
    val ri = resolved(dirIncr)
    val rf = resolved(dirFull)
    assert(ri.keySet == rf.keySet, "matched doc sets differ")
    ri.foreach { case (k, score) =>
      assert(score == rf(k), s"score not bit-identical at $k: $score vs ${rf(k)}")
    }
  }

  test("lifecycle property: random delete/append/compact chains keep stats exact (seeded)") {
    // the unit tests cover the known scenarios; this covers the ones nobody
    // thought of: ANY interleaving of delete/append/compact/re-delete must
    // keep (n, avgdl, df, watermark) equal to the model computed over the
    // physically-present docs, and end-state queries bit-identical to a
    // fresh build over the survivors
    def tok(rows: Seq[(Long, String)]) = graft.index.InvertedIndex.tokenize(
      rows.toDF("doc_id", "text"), "doc_id", "text")
    for (trial <- 0 until 2) {
      val rnd = new scala.util.Random(100 + trial)
      def mkText() =
        Seq.fill(2 + rnd.nextInt(12))(s"w${rnd.nextInt(30)}").mkString(" ")
      val physical = scala.collection.mutable.LinkedHashMap.empty[Long, String]
      var tombstoned = Set.empty[Long]
      var holes = Set.empty[Long]
      var nextId = 0L
      var dir = scratchDir(s"lifeprop$trial")
      def newDocs(k: Int): Seq[(Long, String)] =
        (0 until k).map { _ => val id = nextId; nextId += 1; id -> mkText() }
      val init = newDocs(40)
      physical ++= init
      graft.index.PackedIndex.build(tok(init), dir, shardBits = 3, groups = 2)

      def checkStats(where: String): Unit = {
        val stats = graft.index.PackedIndex.snapshot(dir).stats
        assert(stats.n == physical.size, s"$where: n")
        val sumDl = physical.values.iterator
          .map(t => graft.tokenize.PyTokenize.split(t).length.toLong).sum
        assert(stats.avgdl == sumDl.toDouble / physical.size, s"$where: avgdl")
        val wantDf = physical.values.iterator
          .flatMap(t => graft.tokenize.PyTokenize.split(t).distinct)
          .toSeq.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
        val gotDf = graft.index.PackedIndex.loadDf(spark, dir).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        assert(gotDf == wantDf, s"$where: df diverged")
        assert(graft.index.PackedIndex.snapshot(dir).nextDocId == nextId,
          s"$where: watermark")
      }
      checkStats("init")

      for (step <- 0 until 6) {
        val op = rnd.nextInt(3)
        if (op == 0) {
          val batch = newDocs(5 + rnd.nextInt(10))
          physical ++= batch
          graft.index.PackedIndex.append(tok(batch), dir)
        } else if (op == 1) {
          val visible = (physical.keySet -- tombstoned).toSeq.sorted
          if (visible.size > 1) {
            // delete a strict subset of visible docs, occasionally mixed
            // with already-erased ids (holes) which must no-op
            val pick = rnd.shuffle(visible)
              .take(1 + rnd.nextInt(math.max(1, visible.size / 3)))
              .toSet - visible.head
            val redeads = if (holes.nonEmpty && rnd.nextBoolean())
              rnd.shuffle(holes.toSeq).take(2).toSet else Set.empty[Long]
            if ((pick ++ redeads).nonEmpty) {
              graft.index.PackedIndex.delete(dir, (pick ++ redeads).toSeq)
              tombstoned ++= pick
            }
          }
        } else if (tombstoned.nonEmpty) {
          val out = scratchDir(s"lifeprop-c$trial")
          graft.index.PackedIndex.compact(spark, dir, out)
          physical --= tombstoned; holes ++= tombstoned; tombstoned = Set.empty
          dir = out
        }
        checkStats(s"trial $trial step $step (op $op)")
      }

      // end state: apply pending tombstones physically, then the whole
      // index must be bit-identical to a fresh build over the survivors
      if (tombstoned.nonEmpty) {
        val out = scratchDir(s"lifeprop-f$trial")
        graft.index.PackedIndex.compact(spark, dir, out)
        physical --= tombstoned; holes ++= tombstoned; tombstoned = Set.empty
        dir = out
        checkStats("final compact")
      }
      val stats = graft.index.PackedIndex.snapshot(dir).stats
      val freshDir = scratchDir(s"lifeprop-fresh$trial")
      graft.index.PackedIndex.build(tok(physical.toSeq), freshDir,
        shardBits = stats.shardBits, groups = 2, blockSize = stats.blockSize)
      graft.query.IndexCache.invalidateAll()
      val batch = (0 until 3).map(q =>
        q.toLong -> Seq.fill(3)(s"w${rnd.nextInt(30)}").mkString(" "))
      def rows(d: String) = Wand.search(spark, d, batch, 0).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
      val got = rows(dir)
      assert(got == rows(freshDir), s"trial $trial: chain != fresh build")
      assert(got.nonEmpty, s"trial $trial: degenerate query batch")
    }
  }

  test("orphan (uncommitted) postings groups are invisible to readers") {
    // crash point: a group's parquet fully written but the record naming it
    // never committed — a snapshot's postings must serve committed groups
    // only, or uncommitted docs would be scored against stale df/stats until
    // the retry
    val dir = scratchDir("orphan")
    PagesPipeline.buildIndex(PagesGen.pages(spark, 200, partitions = 4).toDF(),
      dir, shardBits = 6, groups = 2)
    val before = graft.index.PackedIndex.snapshot(dir).postings(spark).count()

    // fabricate the orphan: copy a committed group dir to grp=99, unnamed
    val src = new java.io.File(s"$dir/postings/grp=0")
    val dst = new java.io.File(s"$dir/postings/grp=99")
    def copyRec(s: java.io.File, d: java.io.File): Unit =
      if (s.isDirectory) { d.mkdirs(); s.listFiles.foreach(c => copyRec(c, new java.io.File(d, c.getName))) }
      else java.nio.file.Files.copy(s.toPath, d.toPath)
    copyRec(src, dst)

    assert(graft.index.PackedIndex.snapshot(dir).postings(spark).count() == before,
      "orphan grp=99 leaked into the postings read")
    val hits = Wand.search(spark, dir, Seq(1L -> "the w3 w17"), 1000)
      .select(col("doc_id")).collect().map(_.getLong(0))
    assert(hits.length == hits.distinct.length, "orphan docs served twice")
  }

  test("an append's df counts only committed groups: an orphan grp=99 changes nothing") {
    def tok(rows: Seq[(Long, String)]) = graft.index.InvertedIndex.tokenize(
      rows.toDF("doc_id", "text"), "doc_id", "text")
    val rnd = new scala.util.Random(7)
    val docs = (0L until 50L).map(id =>
      id -> (Seq.fill(3 + rnd.nextInt(8))(s"w${rnd.nextInt(20)}") :+ "a").mkString(" "))
    val dir = scratchDir("orphan-df")
    graft.index.PackedIndex.build(tok(docs.take(40)), dir, shardBits = 3, groups = 2)
    val src = java.nio.file.Paths.get(dir, "postings", "grp=0")
    val dst = java.nio.file.Paths.get(dir, "postings", "grp=99")
    java.nio.file.Files.createDirectories(dst)
    java.nio.file.Files.list(src).forEach(f => java.nio.file.Files.copy(f, dst.resolve(f.getFileName)))
    graft.index.PackedIndex.append(tok(docs.drop(40)), dir)
    val fresh = scratchDir("orphan-df-fresh")
    graft.index.PackedIndex.build(tok(docs), fresh, shardBits = 3, groups = 2)
    def bits(d: String) = {
      val s = graft.index.PackedIndex.snapshot(d).stats
      (s.n, java.lang.Double.doubleToRawLongBits(s.avgdl),
        java.lang.Double.doubleToRawLongBits(s.avgRawIdf))
    }
    def df(d: String) = graft.index.PackedIndex.loadDf(spark, d).collect()
      .map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq
    assert(df(dir).toMap.apply("a") == 50L, "the orphan group's postings were counted")
    assert(df(dir) == df(fresh))
    assert(bits(dir) == bits(fresh))
  }

  test("tombstone delete: deleted docs vanish, survivors keep exact scores") {
    val dir = scratchDir("del")
    PagesPipeline.buildIndex(
      PagesGen.pages(spark, 300, partitions = 4).toDF(), dir,
      shardBits = 6, groups = 2)
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000")

    // baseline: full ranking (k=0 -> every matched doc)
    val base = Wand.search(spark, dir, queries, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val dead = base.map(_._2).distinct.take(7) ++ Seq(0L, 1L)
    graft.index.PackedIndex.delete(dir, dead)
    graft.index.PackedIndex.delete(dir, dead.take(3)) // idempotent re-delete

    val after = Wand.search(spark, dir, queries, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    val deadSet = dead.toSet
    assert(after.forall(h => !deadSet.contains(h._2)), "deleted doc returned")
    // visibility-only semantics: survivors' scores are BIT-identical to the
    // pre-delete run (stats frozen until rebuild, like Lucene pre-merge)
    assert(after.toSet == base.filterNot(h => deadSet.contains(h._2)).toSet)

    // the bounded top-k, planned through ShardKernelExec, honors them too
    val planned = Wand.search(spark, dir, queries, 10)
    val planHits = planned.collect().map(_.getAs[Long]("doc_id")).toSet
    assert(collect(planned.queryExecution.executedPlan) {
      case e: graft.plans.ShardKernelExec => e
    }.size == 1)
    assert(planHits.nonEmpty && planHits.intersect(deadSet).isEmpty)

    // append after delete: new docs are visible, tombstones persist
    val extra = PagesGen.pages(spark, 350, partitions = 4)
      .toDF().join(
        spark.read.parquet(s"$dir/docs_raw").select(col("url")),
        Seq("url"), "left_anti")
    PagesPipeline.appendPages(extra, dir)
    val post = Wand.search(spark, dir, queries, 0).collect()
      .map(_.getAs[Long]("doc_id")).toSet
    assert(post.intersect(deadSet).isEmpty, "tombstones lost by append")
    assert(post.exists(_ >= 300L), "appended docs not searchable")
  }

  test("allowlist and tombstones compose: hits = allowed AND live") {
    val dir = scratchDir("del-allow")
    PagesPipeline.buildIndex(
      PagesGen.pages(spark, 300, partitions = 4).toDF(), dir,
      shardBits = 6, groups = 2)
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000")
    val base = Wand.search(spark, dir, queries, 0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val dead = base.map(_._2).distinct.take(5)
    graft.index.PackedIndex.delete(dir, dead)
    // allowlist deliberately OVERLAPS the deleted set
    val allowed = (base.map(_._2).distinct.take(10) ++ dead).distinct.toArray

    val got = Wand.search(spark, dir, queries, 0, Some(allowed)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val allowedSet = allowed.toSet
    val deadSet = dead.toSet
    val want = base.filter(h =>
      allowedSet.contains(h._2) && !deadSet.contains(h._2)).toSet
    assert(got == want, s"allow+tombstone composition broke: got=$got want=$want")
    assert(want.nonEmpty, "fixture degenerate: empty expectation")
  }

  test("salted count equals plain groupBy count under heavy skew") {
    val df = (Seq.fill(5000)("hot") ++ (0 until 500).map(i => s"cold$i"))
      .toDF("k")
    val salted = Salting.saltedCount(df, "k").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val plain = df.groupBy(col("k")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(salted == plain)
    assert(salted("hot") == 5000L)
  }

  test("salted join equals plain join; hot-key split re-merges") {
    val big = (0 until 2000).map(i => (if (i % 2 == 0) "hot" else s"k${i % 7}", i))
      .toDF("k", "v")
    val small = Seq(("hot", 100), ("k1", 1), ("k3", 3)).toDF("k", "w")
    val a = Salting.saltedJoin(big, small, "k")
      .groupBy(col("k")).agg(sum(col("v") * col("w")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val b = big.join(small, "k")
      .groupBy(col("k")).agg(sum(col("v") * col("w")).as("s"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(a == b)

    val freq = big.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
    val split = Salting.splitHotKeys(big, "k", freq, threshold = 500, salts = 8)
    // hot key fans out over multiple salted sub-keys; re-merge restores counts
    val hotSubkeys = split.filter(col("k") === "hot")
      .select(col("salted_key")).distinct().count()
    assert(hotSubkeys > 1 && hotSubkeys <= 8)
    val remerged = split
      .withColumn("orig", org.apache.spark.sql.functions.split(col("salted_key"), "#").getItem(0))
      .groupBy(col("orig")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val plainCounts = big.groupBy(col("k")).agg(count(lit(1)).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(remerged == plainCounts)
  }
}
