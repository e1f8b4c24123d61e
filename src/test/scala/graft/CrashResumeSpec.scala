package graft

import graft.ann.IvfIndex
import graft.corpus.{PagesGen, PagesPipeline}
import graft.index.{DocIds, PackedIndex, PositionalIndex}
import graft.io.MetaIO
import graft.query.{Phrase, PositionalQuery, Wand}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Every write does its data writes and then commits the index's one
  * record. A crash after the data writes and before the commit leaves the
  * record of the version the write started from, so readers keep serving
  * exactly that version, and a retry produces what a clean run produces:
  * the same stats bits, groups, df rows and answers. The IVF index keeps
  * the same protocol with its own record, `ivf.json`.
  */
class CrashResumeSpec extends SparkSpec {

  /** Everything a reader of an index observes; stats as raw bits. */
  private final case class Observed(stats: Seq[Any], groups: Seq[Any],
                                    nextDocId: Long, tombstones: Seq[Long], holes: Seq[Long],
                                    positional: Option[Any], df: Seq[Seq[Any]],
                                    hits: Seq[Seq[Any]], phrase: Either[String, Seq[Seq[Any]]])

  /** What a reader of `dir` observes, or the failure it meets (an index
    * with no committed record).
    */
  private def state(dir: String, queries: Seq[(Long, String)],
                    phrase: Seq[String]): Either[String, Observed] =
    scala.util.Try(PackedIndex.snapshot(dir)).toEither.left.map(_.getClass.getName).map { snap =>
      val s = snap.stats
      def rows(df: DataFrame) = df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(","))
      Observed(Seq(s.n, s.shardBits, s.blockSize) ++
          Seq(s.avgdl, s.avgRawIdf, s.k1, s.b, s.epsilon).map(java.lang.Double.doubleToRawLongBits),
        snap.manifests, snap.nextDocId, snap.tombstones.toSeq, snap.holes.toSeq,
        snap.positional, rows(snap.df(spark)), rows(Wand.search(spark, dir, queries, 0)),
        scala.util.Try(rows(Phrase.search(spark, dir,
          Seq(0L -> PositionalQuery.PhraseMatch(phrase)), 100))).toEither
          .left.map(_.getMessage.replace(dir, "<dir>")))
    }

  /** What a reader of the IVF index at `dir` observes: its record's fields
    * and search rows, or the failure it meets.
    */
  private def ivfState(dir: String, queries: DataFrame): Either[String, Seq[Any]] =
    scala.util.Try(IvfIndex.snapshot(dir)).toEither.left.map(_.getClass.getName).map { s =>
      Seq(s.nCells, s.dim, s.storage, s.segments, s.nVecs, s.tombstones.toSeq, s.holes.toSeq,
        IvfIndex.search(spark, dir, queries, k = 1000, nProbe = 4)
          .collect().map(_.toSeq).toSeq.sortBy(_.mkString(",")))
    }

  /** Reads the committed version of an index at `dir` and returns what
    * commits it again.
    */
  private type Pin = String => () => Unit
  private val packed: Pin = dir => { val pre = PackedIndex.snapshot(dir); () => PackedIndex.commit(pre) }
  private val ivf: Pin = dir => { val pre = IvfIndex.snapshot(dir); () => IvfIndex.commit(pre) }

  /** Runs `op` on the committed index at `dir`, then commits the version it
    * started from again: the state a crash after the op's data writes and
    * before its commit leaves. Readers must see the pre-op version; then
    * `op` runs again as the retry.
    */
  private def crashThenRetry(dir: String, observe: String => Any, pin: Pin = packed)
                            (op: => Unit): Unit = {
    val recommit = pin(dir)
    val before = observe(dir)
    op
    recommit()
    assert(observe(dir) == before, "a crashed write leaked into the readers")
    op
  }

  /** The same for a write that creates the index at `dir` (build, compact):
    * before its commit there is no record, so every reader fails.
    */
  private def crashThenRetryNew(dir: String, observe: String => Either[String, Any],
                                record: String = "index.json")(op: => Unit): Unit = {
    op
    MetaIO.deleteRecursively(s"$dir/$record")
    assert(observe(dir).isLeft, "an uncommitted index served readers")
    op
  }

  private val Replaced = Set("stats.json", "manifest", "watermark.json", "tombstones.txt",
    "holes.txt", "positions.list")

  /** `dir` holds its commit record and data dirs only. */
  private def assertRecordAndData(dir: String): Unit = {
    val entries = MetaIO.list(dir).toSet
    assert(entries.contains("index.json"), s"$dir: no commit record in $entries")
    assert(entries.intersect(Replaced).isEmpty, s"$dir: replaced metadata in $entries")
    val files = entries.filterNot(e => new java.io.File(s"$dir/$e").isDirectory)
    assert(files == Set("index.json"), s"$dir: files beside the record: $files")
  }

  test("pages lifecycle: a crash before any commit serves the pre-op version, a retry equals a clean run") {
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000", 3L -> "of and w5")
    val p100 = PagesGen.pages(spark, 100, partitions = 2).toDF()
    val p120 = PagesGen.pages(spark, 120, partitions = 2).toDF()
    val p140 = PagesGen.pages(spark, 140, partitions = 2).toDF()
    val batch1 = p120.join(p100.select(col("url")), Seq("url"), "left_anti")
    val batch2 = p140.join(p120.select(col("url")), Seq("url"), "left_anti")
    val clean = scratchDir("crash-clean")
    val crashed = scratchDir("crash")
    val compacted = Map(clean -> scratchDir("crash-clean-cpt"), crashed -> scratchDir("crash-cpt"))

    def corpus(d: String) = PagesPipeline.tokenized(spark.read.parquet(s"$d/docs_raw"))
    /** The newest group's batch with its final ids, as appendPages offset it. */
    def newestBatch(d: String): DataFrame = {
      val snap = PackedIndex.snapshot(d)
      val g = snap.manifests.last
      val raw = spark.read.parquet(s"$d/docs_raw_append_${g.group}")
      PagesPipeline.tokenized(DocIds.assignDense(raw)
        .withColumn("doc_id", col("doc_id") + (snap.nextDocId - g.docs)))
    }
    val build = (d: String) => { PagesPipeline.buildIndex(p100, d, shardBits = 5, groups = 2); () }
    val steps: Seq[(String, String => Unit)] = Seq(
      "positional build" -> (d => PositionalIndex.build(corpus(d), d)),
      "appendPages 1" -> (d => { PagesPipeline.appendPages(batch1, d); () }),
      "positional append 1" -> (d => PositionalIndex.append(newestBatch(d), d)),
      "appendPages 2" -> (d => { PagesPipeline.appendPages(batch2, d); () }),
      "positional append 2" -> (d => PositionalIndex.append(newestBatch(d), d)),
      "delete" -> (d => PackedIndex.delete(d, Seq(3L, 50L, 101L, 125L, 139L))))

    build(clean)
    val phrase = graft.tokenize.PyTokenize.split(spark.read.parquet(s"$clean/docs_raw")
      .filter(col("doc_id") === 0L).first().getAs[String]("text")).take(2).toSeq
    def observe(d: String) = state(d, queries, phrase)
    crashThenRetryNew(crashed, observe)(build(crashed))
    assert(observe(crashed) == observe(clean), "build: retry != clean run")
    for ((name, op) <- steps) {
      op(clean)
      crashThenRetry(crashed, observe)(op(crashed))
      assert(observe(crashed) == observe(clean), s"$name: retry != clean run")
    }
    val answers = observe(clean).toOption.get
    assert(answers.hits.nonEmpty && answers.phrase.exists(_.nonEmpty), s"empty fixture: $answers")

    PackedIndex.compact(spark, clean, compacted(clean))
    crashThenRetryNew(compacted(crashed), observe)(
      PackedIndex.compact(spark, crashed, compacted(crashed)))
    assert(observe(compacted(crashed)) == observe(compacted(clean)), "compact: retry != clean run")
    assert(observe(crashed) == observe(clean), "compact changed its source")
    Seq(clean, crashed).flatMap(d => Seq(d, compacted(d))).foreach(assertRecordAndData)
  }

  test("PackedIndex.build with empty groups, PackedIndex.append and the positional arm: crash, then retry == clean") {
    val clean = scratchDir("crash2-clean")
    val crashed = scratchDir("crash2")
    def observe(d: String) = state(d, MultiGroupIndex.Queries, MultiGroupIndex.PhraseTerms)
    // the derived shard width puts all 200 docs in one shard: three of the
    // four groups are empty, so the resumed build counts empty writes too
    val build = (d: String) => {
      PackedIndex.build(MultiGroupIndex.tok(spark, 0, 200), d, groups = 4); ()
    }
    val batch = MultiGroupIndex.tok(spark, 200, 220)
    val steps: Seq[(String, String => Unit)] = Seq(
      "positional build" -> (d => PositionalIndex.build(MultiGroupIndex.tok(spark, 0, 200), d)),
      "append" -> (d => { PackedIndex.append(batch, d); () }),
      "positional append" -> (d => PositionalIndex.append(batch, d)))
    build(clean)
    crashThenRetryNew(crashed, observe)(build(crashed))
    assert(PackedIndex.snapshot(crashed).manifests.count(_.docs == 0) == 3)
    assert(observe(crashed) == observe(clean), "build: retry != clean run")
    for ((name, op) <- steps) {
      op(clean)
      crashThenRetry(crashed, observe)(op(crashed))
      assert(observe(crashed) == observe(clean), s"$name: retry != clean run")
    }
  }

  test("a positional rebuild that crashes before its commit leaves the current arm serving") {
    val dir = scratchDir("crash-rebuild")
    MultiGroupIndex.build(spark, dir)
    MultiGroupIndex.append(spark, dir, 200)
    def observe(d: String) = state(d, MultiGroupIndex.Queries, MultiGroupIndex.PhraseTerms)
    val appended = observe(dir)
    assert(PackedIndex.snapshot(dir).positional.get.segments == Seq("positions", "positions-a1"))
    crashThenRetry(dir, observe)(PositionalIndex.build(MultiGroupIndex.tok(spark, 0, 220), dir))
    assert(PackedIndex.snapshot(dir).positional.get.segments == Seq("positions-b"))
    // one base segment now holds what the base and the appended segment held
    assert(observe(dir).map(_.copy(positional = None)) == appended.map(_.copy(positional = None)))
  }

  test("IVF build, append, delete and compact: a crash before the commit serves the pre-op version, a retry equals a clean run") {
    val queries = IvfVecs.queries(spark, 4)
    def observe(d: String) = ivfState(d, queries)
    val clean = scratchDir("ivfcrash-clean")
    val crashed = scratchDir("ivfcrash")
    val compacted = Map(clean -> scratchDir("ivfcrash-clean-cpt"), crashed -> scratchDir("ivfcrash-cpt"))
    val build = (d: String) => IvfIndex.build(IvfVecs(spark, 0, 200), d, nCells = 4, iters = 2)
    val steps: Seq[(String, String => Unit)] = Seq(
      "append" -> (d => IvfIndex.append(IvfVecs(spark, 200, 240), d)),
      "named append" -> (d => IvfIndex.append(IvfVecs(spark, 240, 260), d, Some("cells-b7"))),
      "delete" -> (d => IvfIndex.delete(spark, d, Seq(3L, 50L, 201L, 245L))))

    build(clean)
    crashThenRetryNew(crashed, observe, "ivf.json")(build(crashed))
    assert(observe(crashed) == observe(clean), "build: retry != clean run")
    for ((name, op) <- steps) {
      op(clean)
      crashThenRetry(crashed, observe, ivf)(op(crashed))
      assert(observe(crashed) == observe(clean), s"$name: retry != clean run")
    }
    val answers = observe(clean).toOption.get
    assert(answers(4) == 260L && answers.last.asInstanceOf[Seq[_]].nonEmpty, s"fixture: $answers")

    IvfIndex.compact(spark, clean, compacted(clean))
    crashThenRetryNew(compacted(crashed), observe, "ivf.json")(
      IvfIndex.compact(spark, crashed, compacted(crashed)))
    assert(observe(compacted(crashed)) == observe(compacted(clean)), "compact: retry != clean run")
    assert(observe(crashed) == observe(clean), "compact changed its source")
    for (d <- Seq(clean, crashed).flatMap(d => Seq(d, compacted(d)))) {
      val entries = MetaIO.list(d).toSet
      val files = entries.filterNot(e => new java.io.File(s"$d/$e").isDirectory)
      assert(files == Set("ivf.json", "centroids.tsv"), s"$d: files beside the record: $entries")
    }
  }

  test("an IVF build that crashed before its record is no committed index: search and append refuse it") {
    val dir = scratchDir("ivfcrash-unrecorded")
    IvfIndex.build(IvfVecs(spark, 0, 100), dir, nCells = 4, iters = 2)
    // what a build leaves when it crashes once its segment and centroids
    // are written: no other file
    MetaIO.list(dir).filterNot(Set("cells", "centroids.tsv"))
      .foreach(e => MetaIO.deleteRecursively(s"$dir/$e"))
    assert(MetaIO.exists(s"$dir/cells/_SUCCESS") && MetaIO.exists(s"$dir/centroids.tsv"))
    intercept[IllegalArgumentException] {
      IvfIndex.search(spark, dir, IvfVecs.queries(spark, 2), k = 10, nProbe = 4).collect()
    }
    intercept[IllegalArgumentException](IvfIndex.append(IvfVecs(spark, 100, 120), dir))
    assert(MetaIO.list(dir).toSet == Set("cells", "centroids.tsv"), "append wrote onto an uncommitted index")
  }
}
