package graft

import graft.core.{Bm25, Bm25Params}
import graft.corpus.{PagesGen, PagesPipeline}
import graft.query.Wand
import graft.tokenize.PyTokenize
import org.apache.spark.sql.functions._

/** End-to-end north-rule pipeline: pages -> extract -> docIds -> packed
  * index -> WAND, rank/score-identical to the in-JVM oracle over the same
  * extracted texts.
  */
class PagesSpec extends SparkSpec {
  import spark.implicits._

  test("page generation is deterministic and distributed-stable") {
    val a = PagesGen.gen(123L, seed = 42)
    val b = PagesGen.gen(123L, seed = 42)
    assert(a.url == b.url && a.html.sameElements(b.html))
    // same rows regardless of partitioning
    val p4 = PagesGen.pages(spark, 50, partitions = 4).collect().sortBy(_.url)
    val p7 = PagesGen.pages(spark, 50, partitions = 7).collect().sortBy(_.url)
    assert(p4.map(_.url).toSeq == p7.map(_.url).toSeq)
    assert(p4.zip(p7).forall { case (x, y) => x.html.sameElements(y.html) })
  }

  test("pages pipeline: WAND over built index is bit-identical to oracle") {
    val pages = PagesGen.pages(spark, 400, partitions = 6)
    val dir = scratchDir("pages-idx")
    val manifests = PagesPipeline.buildIndex(pages.toDF(), dir,
      shardBits = 7, groups = 2)
    assert(manifests.map(_.postings).sum > 0)

    // oracle corpus = the index's OWN staged artifact (docs_raw carries the
    // dense doc_id; tokenization is re-derived exactly like the build does)
    val docRows = PagesPipeline.tokenized(spark.read.parquet(s"$dir/docs_raw"))
      .select(col("doc_id"), col("terms")).collect()
      .map(r => (r.getLong(0), r.getSeq[String](1).toArray)).sortBy(_._1)
    assert(docRows.map(_._1).toSeq == (0L until 400L)) // dense ids
    val oracle = new Bm25.Oracle(docRows.map(_._2).toIndexedSeq, Bm25Params())

    val queries = Seq(
      1L -> "the w3 w17",
      2L -> "w100 w2000 w4999",
      3L -> "the of and",
      4L -> "w1 café")
    val got = Wand.search(spark, dir, queries, 10).collect()
      .groupBy(_.getAs[Long]("query_id"))
      .view.mapValues(_.sortBy(_.getAs[Int]("rank"))
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Double]("score"))).toSeq).toMap
    queries.foreach { case (qid, text) =>
      val want = oracle.topK(PyTokenize.split(text).toSeq, 10).filter(_._2 != 0.0)
      assert(got.getOrElse(qid, Seq.empty) == want,
        s"pages-pipeline parity failed for q$qid")
    }
  }

  test("extraction populates text and prunes html early") {
    val pages = PagesGen.pages(spark, 20, partitions = 2).toDF()
    val ex = PagesPipeline.extracted(pages)
    val rows = ex.collect()
    assert(rows.length == 20)
    assert(rows.forall(r => r.getAs[String]("text") != null))
    assert(rows.forall(r => r.getAs[String]("text").nonEmpty))
    // no script/style payloads leak into extracted text
    assert(rows.forall(r => !r.getAs[String]("text").contains("var pageId")))
    assert(rows.forall(r => !r.getAs[String]("text").contains("margin")))
    // pre-populated text short-circuits extraction
    val pre = Seq(("u1", new java.sql.Timestamp(0), Array[Byte](1, 2),
      "already extracted", "en"))
      .toDF("url", "warc_ts", "html", "text", "lang")
    assert(PagesPipeline.extracted(pre).select("text").as[String].head()
      == "already extracted")
  }
}
