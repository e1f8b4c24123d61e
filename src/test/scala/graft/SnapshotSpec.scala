package graft

import graft.ann.IvfIndex
import graft.index.{PackedIndex, PositionalIndex}
import graft.query.{IndexCache, Phrase, PositionalQuery, Wand}
import org.apache.spark.sql.DataFrame
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One committed version per call: a reader holding an [[graft.index.IndexSnapshot]]
  * (or an [[graft.ann.IvfSnapshot]]) keeps serving exactly that version while an append and a delete commit,
  * and a fresh snapshot sees both commits.
  */
class SnapshotSpec extends SparkSpec {
  import spark.implicits._

  /** (query_id, doc_id, score, rank), sorted. */
  private def hits(df: DataFrame): Seq[(Long, Long, Double, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted

  test("a pinned snapshot serves its version while an append (v+1) and a delete (v+2) commit") {
    val dir = scratchDir("snap-pinned")
    MultiGroupIndex.build(spark, dir)
    IndexCache.invalidateAll()
    // k = 0 ranks every matched doc, so an appended or deleted doc shows
    val queries = MultiGroupIndex.Queries :+ (5L -> "the")
    val batch = queries.toDF("query_id", "text")
    val phrase = Seq(0L -> PositionalQuery.PhraseMatch(MultiGroupIndex.PhraseTerms))

    val pinned = PackedIndex.snapshot(dir)
    def pinnedSearch() = hits(Wand.search(spark, pinned, queries, 0, None, 1, Map.empty, Map.empty))
    // chunks of 2 over 5 queries: three chunks share the one snapshot
    def pinnedDs() = hits(Wand.searchDs(spark, pinned, batch, 0, 2, None, 1, Map.empty))
    def pinnedPhrase() = hits(Phrase.search(spark, pinned, phrase, 100))

    val pre = hits(Wand.search(spark, dir, queries, 0))
    val prePhrase = hits(Phrase.search(spark, dir, phrase, 100))
    assert(pre.nonEmpty && prePhrase.nonEmpty)
    assert(pinnedSearch() == pre && pinnedDs() == pre && pinnedPhrase() == prePhrase)

    val batchTok = MultiGroupIndex.tok(spark, 200, 220)
    PackedIndex.append(batchTok, dir)
    val victims = (prePhrase.map(_._2).take(1) ++ pre.map(_._2).distinct.take(3)).distinct
    PackedIndex.delete(dir, victims)

    assert(pinnedSearch() == pre, "pinned Wand.search saw a later commit")
    assert(pinnedDs() == pre, "pinned Wand.searchDs saw a later commit")
    assert(pinnedPhrase() == prePhrase, "pinned Phrase.search saw the later delete")

    val fresh = hits(Wand.search(spark, dir, queries, 0))
    assert(fresh.exists(_._2 >= 200L), "a fresh snapshot misses the append")
    assert(!fresh.exists(h => victims.contains(h._2)), "a fresh snapshot misses the delete")
    assert(hits(Wand.searchDs(spark, dir, batch, 0, chunkSize = 2)) == fresh)

    // the arm catches up with the append: the pinned snapshot keeps the
    // arm its record named, so it still serves its own phrase answers
    PositionalIndex.append(batchTok, dir)
    assert(pinnedPhrase() == prePhrase, "pinned Phrase.search saw the arm's later append")
    val freshPhrase = hits(Phrase.search(spark, dir, phrase, 100))
    assert(freshPhrase != prePhrase && !freshPhrase.exists(h => victims.contains(h._2)))
  }

  test("a snapshot pinned before two appends returns its exact hits after both") {
    val dir = scratchDir("snap-two-appends")
    MultiGroupIndex.build(spark, dir)
    IndexCache.invalidateAll()
    val queries = MultiGroupIndex.Queries :+ (5L -> "the")
    val pinned = PackedIndex.snapshot(dir)
    def pinnedSearch() = hits(Wand.search(spark, pinned, queries, 0, None, 1, Map.empty, Map.empty))
    val pre = pinnedSearch()
    assert(pre.nonEmpty)
    PackedIndex.append(MultiGroupIndex.tok(spark, 200, 220), dir)
    PackedIndex.append(MultiGroupIndex.tok(spark, 220, 240), dir)
    // a fresh read first, so the df cache holds the newest version
    val fresh = hits(Wand.search(spark, dir, queries, 0))
    assert(fresh.exists(_._2 >= 220L), "a fresh snapshot misses the second append")
    assert(pinnedSearch() == pre, "the pinned snapshot changed after two appends")
  }

  test("a pinned IVF snapshot returns its exact search rows after an append and a delete commit") {
    val dir = scratchDir("snap-ivf")
    IvfIndex.build(IvfVecs(spark, 0, 200), dir, nCells = 4, iters = 2)
    val queries = IvfVecs.queries(spark, 3)
    // k above the corpus size ranks every probed vector, so an appended or
    // deleted one shows
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSeq.sorted
    val pinned = IvfIndex.snapshot(dir)
    def pinnedRows() = rows(IvfIndex.search(spark, pinned, queries, 1000, 4, None))
    val pre = pinnedRows()
    assert(pre.nonEmpty && pre == rows(IvfIndex.search(spark, dir, queries, k = 1000, nProbe = 4)))
    IvfIndex.append(IvfVecs(spark, 200, 260), dir)
    val victims = pre.map(_._2).distinct.take(3)
    IvfIndex.delete(spark, dir, victims)
    assert(pinnedRows() == pre, "the pinned IVF snapshot saw a later commit")
    val fresh = rows(IvfIndex.search(spark, dir, queries, k = 1000, nProbe = 4))
    assert(fresh.exists(_._2 >= 200L), "a fresh snapshot misses the append")
    assert(!fresh.exists(h => victims.contains(h._2)), "a fresh snapshot misses the delete")
  }

  test("query, plans, corpus and the positional arm read index state only through the snapshot") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"source tree not found from ${Paths.get("").toAbsolutePath}")
    def codeLines(f: Path): Seq[(String, Int)] =
      Files.readAllLines(f).asScala.toSeq.zipWithIndex
        .filterNot { case (line, _) => line.trim.startsWith("*") || line.trim.startsWith("//") ||
          line.trim.startsWith("/**") }
    // both indexes' commit records, every metadata file they replaced and
    // the IVF centroids, as a path component or a quoted name
    val metadata = ("""[/"](index\.json|stats\.json|watermark\.json|tombstones\.txt|""" +
      """holes\.txt|positions\.list|ivf\.json|cells\.list|centroids\.tsv)|/manifest[/"]""").r
    val all = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }
    val readers = all.filterNot(f => f == root.resolve("index/PackedIndex.scala") ||
      f == root.resolve("ann/IvfIndex.scala"))
    assert(readers.exists(_.endsWith("PositionalIndex.scala")) && readers.size > 50)
    val offenders = readers.flatMap(f => codeLines(f).collect {
      case (line, i) if metadata.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
    })
    assert(offenders.isEmpty,
      s"index state read around PackedIndex.snapshot or IvfIndex.snapshot:\n${offenders.mkString("\n")}")
    val cache = root.resolve("query/IndexCache.scala")
    val io = codeLines(cache).collect {
      case (line, i) if line.contains("MetaIO") || line.contains("TableIO") => s"$cache:${i + 1}"
    }
    assert(io.isEmpty, s"IndexCache reads files itself: $io")
  }
}
