package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Plan + scale evidence for the positional phrase/proximity path:
  * (1) prints the positional scan's pushed filters (the term IN filter must
  * reach the positions parquet), (2) at a given corpus size times phrase
  * top-k via corpus rescan vs the positional kernel — the measurement
  * behind "positional removes the corpus rescan".
  * Usage: runMain graft.PhraseProbe [nPages] [cores]
  */
object PhraseProbe {
  def main(args: Array[String]): Unit = {
    val nPages = if (args.nonEmpty) args(0).toLong else 100000L
    val cores = if (args.length > 1) args(1) else "8"
    val spark = SparkSession.builder().master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val dir = java.nio.file.Files.createTempDirectory("graft-phraseprobe").toString
    val t0 = System.nanoTime()
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, nPages, cores.toInt * 4).toDF(), dir,
      shardBits = 12, groups = 2)
    val tok = corpus.PagesPipeline.tokenized(spark.read.parquet(s"$dir/docs_raw"))
    val tBuild = (System.nanoTime() - t0) / 1e9
    val t1 = System.nanoTime()
    index.PositionalIndex.build(tok, dir)
    val tPos = (System.nanoTime() - t1) / 1e9

    println("=== positional rows scan, term IN filter (expect PushedFilters: In(term)) ===")
    index.PositionalIndex.load(spark, dir)
      .filter(col("term").isin("the", "w5"))
      .explain("formatted")

    val phrase = Seq("the", "w3")
    def timed(f: => Long): (Double, Long) = {
      val t = System.nanoTime(); val n = f; ((System.nanoTime() - t) / 1e9, n)
    }
    // warm both paths once
    query.Phrase.topK(tok, phrase, 10).count()
    query.Phrase.topKPositional(spark, dir, phrase, 10).count()
    val (rescanSec, n1) = timed(query.Phrase.topK(tok, phrase, 10).count())
    val (posSec, n2) = timed(query.Phrase.topKPositional(spark, dir, phrase, 10).count())
    val (proxSec, n3) = timed(
      query.Phrase.proximityTopKPositional(spark, dir, "the", "w3", 3, 10).count())
    println(s"""{"n_pages":$nPages,"build_sec":${f"$tBuild%.1f"},"positional_arm_build_sec":${f"$tPos%.1f"},"phrase_rescan_sec":${f"$rescanSec%.2f"},"phrase_positional_sec":${f"$posSec%.2f"},"proximity_positional_sec":${f"$proxSec%.2f"},"rows":[$n1,$n2,$n3]}""")
    spark.stop()
  }
}
