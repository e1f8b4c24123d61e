package graft

import graft.corpus.{PagesGen, PagesPipeline}
import graft.index.PackedIndex
import graft.query.Wand
import org.apache.spark.sql.functions.col

/** Prints stats raw bits, df rows and answers of a build/append/delete/compact chain. */
class StatsProbeSpec extends SparkSpec {
  test("probe") {
    val p300 = PagesGen.pages(spark, 300, partitions = 4).toDF()
    val p340 = PagesGen.pages(spark, 340, partitions = 4).toDF()
    val p380 = PagesGen.pages(spark, 380, partitions = 4).toDF()
    val dir = scratchDir("probe")
    val out = scratchDir("probe-cpt")
    PagesPipeline.buildIndex(p300, dir, shardBits = 6, groups = 2)
    val lines = scala.collection.mutable.ArrayBuffer.empty[String]
    def rec(tag: String, d: String): Unit = {
      val s = PackedIndex.snapshot(d).stats
      val df = PackedIndex.loadDf(spark, d).collect().map(r => r.getString(0) -> r.getLong(1)).sorted.toSeq
      val hits = Wand.search(spark, d, Seq(1L -> "the w3 w17", 2L -> "w100 w2000", 3L -> "of and"), 0)
        .collect().map(_.toSeq.mkString(",")).sorted.toSeq
      lines += s"PROBE $tag n=${s.n} avgdl=${java.lang.Double.doubleToRawLongBits(s.avgdl)} " +
        s"avgRawIdf=${java.lang.Double.doubleToRawLongBits(s.avgRawIdf)} df=${df.hashCode} dfn=${df.size} " +
        s"hits=${hits.hashCode} hitn=${hits.size} next=${PackedIndex.snapshot(d).nextDocId}"
    }
    rec("build", dir)
    PagesPipeline.appendPages(p340.join(p300.select(col("url")), Seq("url"), "left_anti"), dir)
    rec("append1", dir)
    PagesPipeline.appendPages(p380.join(p340.select(col("url")), Seq("url"), "left_anti"), dir)
    rec("append2", dir)
    PackedIndex.delete(dir, Seq(1L, 17L, 200L, 333L, 379L))
    rec("delete", dir)
    PackedIndex.compact(spark, dir, out)
    rec("compact", out)
    lines.foreach(println)
  }
}
