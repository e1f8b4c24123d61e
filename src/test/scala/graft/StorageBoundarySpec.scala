package graft

import java.nio.file.{Files, Path, Paths}
import graft.query.{IndexCache, MoreLikeThis, Phrase, Wand}
import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Every serving and ingest entry point reaches storage through the one
  * boundary in graft.io, so the path alone picks the storage: an index
  * built at a plain path serves and grows identically through a `file://`
  * URI of the same dir.
  */
class StorageBoundarySpec extends SparkSpec {
  import spark.implicits._

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  test("an index served through a file:// URI of its dir == the plain path, bit for bit") {
    val dir = scratchDir("uri-serve")
    val uri = s"file://$dir"
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 200, 4).toDF(), dir, shardBits = 5, groups = 2)
    val tok = corpus.PagesPipeline.tokenized(spark.read.parquet(s"$dir/docs_raw"))
    graft.index.PositionalIndex.build(tok, dir)
    // a phrase that occurs: the first two tokens of one document
    val phrase = tok.filter($"doc_id" === 7L).first()
      .getAs[scala.collection.Seq[String]]("terms").take(2).toSeq
    val queries = Seq(1L -> "the w3 w17", 2L -> "w100 w2000", 3L -> "of and w5")
    val batch = Bench.queryBatch(12).toDF("query_id", "text")

    def serve(d: String): Seq[Set[Seq[Any]]] = {
      IndexCache.invalidateAll()
      Seq(rows(MoreLikeThis.search(spark, d, queries, maxTerms = 3, k = 10)),
        rows(Wand.search(spark, d, queries, 10)),
        rows(Wand.searchDs(spark, d, batch, 10, chunkSize = 5)),
        rows(Phrase.topKPositional(spark, d, phrase, 10)))
    }
    val viaPath = serve(dir)
    val viaUri = serve(uri)
    Seq("MoreLikeThis.search", "Wand.search", "Wand.searchDs", "Phrase.topKPositional")
      .zipWithIndex.foreach { case (name, i) =>
        assert(viaPath(i).nonEmpty, s"$name: empty fixture result")
        assert(viaUri(i) == viaPath(i), s"$name diverged through the file:// URI")
      }
  }

  test("pages appended through a file:// URI == appended through the plain path") {
    val base = corpus.PagesGen.pages(spark, 100, 2).toDF()
    val more = corpus.PagesGen.pages(spark, 120, 2).toDF()
      .join(base.select($"url"), Seq("url"), "left_anti")
    def grow(uri: Boolean) = {
      val local = scratchDir("uri-append")
      val dir = if (uri) s"file://$local" else local
      corpus.PagesPipeline.buildIndex(base, dir, shardBits = 4, groups = 2)
      corpus.PagesPipeline.appendPages(more, dir)
      IndexCache.invalidateAll()
      val got = rows(Wand.search(spark, dir, Seq(1L -> "the w3 w17"), 20))
      val n = graft.index.PackedIndex.snapshot(dir).stats.n
      // the URI names the same dir: its commit record is where the path says
      assert(graft.index.PackedIndex.snapshot(local).groups.size == 3)
      (got, n)
    }
    val viaPath = grow(uri = false)
    assert(viaPath._2 == 120L && viaPath._1.nonEmpty)
    assert(grow(uri = true) == viaPath)
  }

  test("a contract query run through withScratch leaves no graft-* dir behind") {
    import SparkSpec.graftDirs
    val before = graftDirs()
    // the compacted query makes two scratch indexes (source + compacted)
    val n = SparkEntry.withScratch(SparkEntry.queries("q_bm25_compacted_topk")(
      spark, "/root/testdata/sf0.001").count())
    assert(n > 0L)
    val left = graftDirs() -- before
    assert(left.isEmpty, s"scratch dirs left behind: $left")
  }

  test("index, query, ann, corpus and plans reach storage only through graft.io") {
    val root = Paths.get("src/main/scala/graft")
    assert(Files.isDirectory(root), s"source tree not found from ${Paths.get("").toAbsolutePath}")
    val banned = """java\.nio\.file|java\.io\.File\b|java\.io\.\{[^}]*\bFile\b""".r
    val offenders = Seq("index", "query", "ann", "corpus", "plans").flatMap { pkg =>
      val s = Files.walk(root.resolve(pkg))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally s.close()
    }.flatMap { (f: Path) =>
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if banned.findFirstIn(line).isDefined => s"$f:${i + 1}: ${line.trim}"
      }
    }
    assert(offenders.isEmpty,
      s"direct filesystem access bypasses graft.io.MetaIO:\n${offenders.mkString("\n")}")
  }
}
