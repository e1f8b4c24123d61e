package graft

import graft.index.{InvertedIndex, PackedIndex, PositionalIndex}
import graft.io.MetaIO
import graft.query.{IndexCache, Phrase, PositionalQuery, Wand}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** A multi-group index with a positional arm: four build groups, then
  * batches appended to both arms, each append one more committed group.
  */
object MultiGroupIndex {
  private val rnd = new scala.util.Random(11)
  private val stop = Array("the", "of", "and")
  /** 240 docs over a 200-word vocabulary plus three stopwords. */
  val Docs: Seq[(Long, String)] = (0L until 240L).map { id =>
    id -> Seq.fill(8 + rnd.nextInt(24)) {
      if (rnd.nextInt(3) == 0) stop(rnd.nextInt(stop.length))
      else s"w${rnd.nextInt(200)}"
    }.mkString(" ")
  }
  val Queries: Seq[(Long, String)] =
    Seq(1L -> "the w3 w17", 2L -> "w100 w20 w150", 3L -> "of and w5", 4L -> "w7 w8")
  /** A phrase that occurs: the first two tokens of doc 7. */
  val PhraseTerms: Seq[String] = Docs(7)._2.split(" ").take(2).toSeq

  def tok(spark: SparkSession, from: Int, until: Int): DataFrame = {
    import spark.implicits._
    InvertedIndex.tokenize(Docs.slice(from, until).toDF("doc_id", "text"),
      "doc_id", "text")
  }

  /** Build docs [0, 200) as four groups: 13 shards of 16 docs at
    * `shardBits` 4; one shard (so three empty groups) at the derived width.
    */
  def build(spark: SparkSession, dir: String, shardBits: Int = 4): Unit = {
    val t = tok(spark, 0, 200)
    PackedIndex.build(t, dir, shardBits = shardBits, groups = 4)
    PositionalIndex.build(t, dir)
  }

  /** Append docs [from, from + 20) to both arms: one more group. */
  def append(spark: SparkSession, dir: String, from: Int): Unit = {
    val t = tok(spark, from, from + 20)
    PackedIndex.append(t, dir)
    PositionalIndex.append(t, dir)
  }
}

/** Pins the Spark jobs a small read runs. The engine wrote every serving
  * table itself, so a read must not pay a schema-inference job per
  * committed group: a `Wand.search` at a warm df cache costs its query
  * jobs only, the same at 4 and at 6 committed groups. Those are the shard
  * shuffle and the result on a one-shard index; a multi-shard index adds
  * the rank window's shuffle.
  */
class ReadJobsSpec extends SparkSpec {

  /** Records each job's group and stage names. The bus delivers events in
    * order, so once a fence job's start is seen every earlier start is.
    */
  private object Jobs extends SparkListener {
    private val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[String])]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).orNull
      seen += group -> e.stageInfos.map(_.name)
    }
    def of(group: String): Seq[Seq[String]] = synchronized {
      seen.collect { case (g, stages) if g == group => stages }.toSeq
    }
  }
  private var probes = 0

  /** Stage names of every job `body` runs, one entry per job. */
  private def jobsOf(body: => Unit): Seq[Seq[String]] = {
    val sc = spark.sparkContext
    probes += 1
    val group = s"probe-$probes"
    sc.setJobGroup(group, group, interruptOnCancel = false)
    try body finally sc.clearJobGroup()
    val fence = s"fence-$probes"
    sc.setJobGroup(fence, fence, interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (Jobs.of(fence).isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
    assert(Jobs.of(fence).nonEmpty, "Spark listener did not drain within 30 s")
    Jobs.of(group)
  }

  private def schemaJobs(jobs: Seq[Seq[String]]): Seq[String] =
    jobs.flatten.filter(_.startsWith("parquet at"))

  /** Jobs of one warm `Wand.search` at 4 groups and after two appends. */
  private def searchJobs(shardBits: Int): (Seq[Seq[String]], Seq[Seq[String]]) = {
    val dir = scratchDir("readjobs")
    MultiGroupIndex.build(spark, dir, shardBits)
    IndexCache.invalidateAll()
    def search(): Unit = { Wand.search(spark, dir, MultiGroupIndex.Queries, 10).collect(); () }
    search() // warms the df cache
    val at4 = jobsOf(search())
    MultiGroupIndex.append(spark, dir, 200)
    MultiGroupIndex.append(spark, dir, 220)
    assert(MetaIO.list(s"$dir/manifest").count(_.startsWith("group-")) == 6)
    search()
    (at4, jobsOf(search()))
  }

  test("a warm small read runs the same jobs at 4 and 6 groups, and no parquet schema job") {
    spark.sparkContext.addSparkListener(Jobs)
    try {
      for ((shardBits, bound) <- Seq(0 -> 2, 4 -> 3)) {
        val (at4, at6) = searchJobs(shardBits)
        assert(schemaJobs(at4 ++ at6).isEmpty, s"schema jobs in Wand.search: $at4 / $at6")
        assert(at6.size <= bound, s"Wand.search at 6 groups ran ${at6.size} jobs: $at6")
        assert(at4.size == at6.size, s"job count moved with the group count: $at4 vs $at6")
      }

      val dir = scratchDir("readjobs-pos")
      MultiGroupIndex.build(spark, dir)
      MultiGroupIndex.append(spark, dir, 200)
      MultiGroupIndex.append(spark, dir, 220)
      val phrase = jobsOf(Phrase.search(spark, dir,
        Seq(0L -> PositionalQuery.PhraseMatch(MultiGroupIndex.PhraseTerms)), 10).collect())
      assert(schemaJobs(phrase).isEmpty, s"schema jobs in Phrase.search: $phrase")

      // a batch within one chunk: the searchDs path without query staging
      val batch = spark.createDataFrame(MultiGroupIndex.Queries).toDF("query_id", "text")
      val chunk = jobsOf(Wand.searchDs(spark, dir, batch, 10, chunkSize = 100).collect())
      assert(schemaJobs(chunk).isEmpty, s"schema jobs in one searchDs chunk: $chunk")
    } finally spark.sparkContext.removeSparkListener(Jobs)
  }
}
