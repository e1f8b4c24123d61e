package graft

import graft.ann.IvfIndex
import graft.corpus.{PagesGen, PagesPipeline}
import graft.index.{InvertedIndex, PackedIndex, PositionalIndex}
import graft.query.{IndexCache, Phrase, PositionalMode, PositionalQuery, Wand}
import graft.plans.ShardKernelExec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.util.QueryExecutionListener

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

/** Deterministic 8-dim vectors for the IVF index: vec_id i draws from its
  * own seed, so an id range is the same rows wherever it is built.
  */
object IvfVecs {
  def apply(spark: SparkSession, from: Long, until: Long): DataFrame = {
    import spark.implicits._
    (from until until).map { i =>
      val rnd = new scala.util.Random(i)
      (i, Seq.fill(8)(rnd.nextGaussian()))
    }.toDF("vec_id", "vec")
  }

  /** `n` query vectors (query_id, qvec) drawn apart from any corpus id. */
  def queries(spark: SparkSession, n: Int): DataFrame =
    apply(spark, 10000L, 10000L + n).selectExpr("vec_id AS query_id", "vec AS qvec")
}

/** Pins the Spark jobs a small read runs. The engine wrote every serving
  * table itself, so a read must not pay a schema-inference job per
  * committed group: a `Wand.search` at a warm df cache costs its query
  * jobs only, the same at 4 and at 6 committed groups. Those are the shard
  * shuffle and the result on a one-shard index; a multi-shard index adds
  * the rank window's shuffle. A phrase batch costs the same query jobs:
  * the positional arm's currency is a driver-side stamp check, not a job.
  * A small append likewise runs its batch's jobs and no df table's. An
  * IVF search reads its committed segments as one known-schema relation,
  * so it too runs the same jobs at any segment count.
  */
class ReadJobsSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** Jobs of a warm 2-chunk local-batch `Wand.searchDs` on [[MultiGroupIndex]]
    * (13 shards) and the collect of its result: three pin the batch's
    * postings (the scan into the shard shuffle, the build of the cache,
    * then the materializing pass), each chunk's kernel runs its rank
    * shuffle and its eager checkpoint, and the collect reads the pinned
    * hits. Collecting the local batch and cutting its chunks run no job,
    * and nothing counts it.
    */
  private val ChunkedJobs = 3 + 2 * 2 + 1

  /** Jobs of a warm 2-page `PagesPipeline.appendPages` on a 40-page index:
    * the staging write, the dense-id count, the batch totals, the pack
    * shuffle and group write, and avgRawIdf's aggregate over the df view,
    * each query stage its own job under AQE. No df table is written or read
    * back, and the staged batch is read with its writer's schema.
    */
  private val AppendJobs = 12

  /** Stage names of one job, and whether it ran inside a SQL execution
    * (staging writes do; a schema-inference job is a bare RDD job).
    */
  private final case class Job(stages: Seq[String], sql: Boolean)

  /** Records each job's group, stage names and SQL execution. The bus
    * delivers events in order, so once a fence job's start is seen every
    * earlier start is.
    */
  private object Jobs extends SparkListener {
    private val seen = scala.collection.mutable.ArrayBuffer.empty[(String, Job)]
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      def prop(key: String) = Option(e.properties).flatMap(p => Option(p.getProperty(key)))
      seen += prop("spark.jobGroup.id").orNull ->
        Job(e.stageInfos.map(_.name), prop("spark.sql.execution.id").isDefined)
    }
    def of(group: String): Seq[Job] = synchronized {
      seen.collect { case (g, job) if g == group => job }.toSeq
    }
  }
  private var probes = 0

  private def listening(body: => Unit): Unit = {
    spark.sparkContext.addSparkListener(Jobs)
    try body finally spark.sparkContext.removeSparkListener(Jobs)
  }

  /** Every job `body` runs, in start order. */
  private def jobsOf(body: => Unit): Seq[Job] = {
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

  private def schemaJobs(jobs: Seq[Job]): Seq[String] =
    jobs.flatMap(_.stages).filter(_.startsWith("parquet at"))

  /** The schema-inference jobs among jobs that also write parquet. */
  private def inferenceJobs(jobs: Seq[Job]): Seq[String] = schemaJobs(jobs.filterNot(_.sql))

  /** Jobs of each of `runs` once warm, on a fresh index at 4 groups and
    * again after two appends to both arms: (at 4, at 6) per run.
    */
  private def jobsAt4And6(shardBits: Int)(runs: (String => Unit)*): Seq[(Seq[Job], Seq[Job])] = {
    val dir = scratchDir("readjobs")
    MultiGroupIndex.build(spark, dir, shardBits)
    IndexCache.invalidateAll()
    def warmJobs(): Seq[Seq[Job]] = {
      runs.foreach(_(dir)) // warms the df cache
      runs.map(run => jobsOf(run(dir)))
    }
    val at4 = warmJobs()
    MultiGroupIndex.append(spark, dir, 200)
    MultiGroupIndex.append(spark, dir, 220)
    assert(PackedIndex.snapshot(dir).groups.size == 6)
    at4.zip(warmJobs())
  }

  /** Jobs of one warm `Wand.search` at 4 groups and after two appends. */
  private def searchJobs(shardBits: Int): (Seq[Job], Seq[Job]) =
    jobsAt4And6(shardBits) { dir =>
      Wand.search(spark, dir, MultiGroupIndex.Queries, 10).collect(); ()
    }.head

  test("a warm small read runs the same jobs at 4 and 6 groups, and no parquet schema job") {
    listening {
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
    }
  }

  test("a warm phrase batch runs only its query jobs, in Phrase.search and a one-chunk searchDs") {
    val phrases = Seq(MultiGroupIndex.PhraseTerms, Seq("the", "w3"), Seq("w7", "of", "w8"))
    val batch = spark.createDataFrame(phrases.zipWithIndex.map { case (p, i) =>
      i.toLong -> p.mkString(" ") }).toDF("query_id", "text")
    listening {
      for ((shardBits, bound) <- Seq(0 -> 2, 4 -> 3)) {
        val Seq((search4, search6), (ds4, ds6)) = jobsAt4And6(shardBits)(
          dir => {
            Phrase.search(spark, dir, phrases.zipWithIndex.map { case (p, i) =>
              i.toLong -> PositionalQuery.PhraseMatch(p) }, 10).collect(); ()
          },
          dir => {
            Phrase.searchDs(spark, dir, batch, PositionalMode.PhraseMode, 10).collect(); ()
          })
        for ((name, jobs) <- Seq("search at 4" -> search4, "search at 6" -> search6,
            "searchDs at 4" -> ds4, "searchDs at 6" -> ds6))
          assert(jobs.size <= bound, s"Phrase.$name groups ran ${jobs.size} jobs: $jobs")
        assert(Seq(search6, ds4, ds6).forall(_.size == search4.size),
          s"phrase job counts differ: $search4 / $search6 / $ds4 / $ds6")
      }
    }
  }

  test("a warm one-chunk searchDs runs exactly the jobs of Wand.search on the same queries") {
    val dir = scratchDir("readjobs-onechunk")
    MultiGroupIndex.build(spark, dir)
    val batch = spark.createDataFrame(MultiGroupIndex.Queries).toDF("query_id", "text")
    listening {
      def ds(): Unit = { Wand.searchDs(spark, dir, batch, 10, chunkSize = 100).collect(); () }
      def seq(): Unit = { Wand.search(spark, dir, MultiGroupIndex.Queries, 10).collect(); () }
      ds(); seq() // warm the df cache
      val dsJobs = jobsOf(ds())
      val seqJobs = jobsOf(seq())
      assert(dsJobs.size == seqJobs.size,
        s"one-chunk searchDs ran ${dsJobs.size} jobs, Wand.search ${seqJobs.size}: $dsJobs / $seqJobs")
    }
  }

  test("a warm 2-page appendPages runs its batch's jobs: no df table and no schema inference") {
    val dir = scratchDir("writejobs")
    PagesPipeline.buildIndex(PagesGen.pages(spark, 40, partitions = 2).toDF(), dir)
    def batch(seed: Long) = PagesGen.pages(spark, 2, partitions = 1, seed = seed).toDF()
    listening {
      PagesPipeline.appendPages(batch(1), dir) // warm
      val jobs = jobsOf(PagesPipeline.appendPages(batch(2), dir))
      assert(inferenceJobs(jobs).isEmpty, s"schema jobs in appendPages: $jobs")
      assert(jobs.size == AppendJobs, s"a 2-page appendPages ran ${jobs.size} jobs: $jobs")
    }
  }

  test("a 2-chunk local-batch searchDs runs no parquet job: pin and chunk jobs, no count") {
    val dir = scratchDir("readjobs-chunks")
    MultiGroupIndex.build(spark, dir)
    val batch = spark.createDataFrame((1L to 40L).map(i =>
      i -> s"w$i w${(i * 7) % 200} the")).toDF("query_id", "text")
    listening {
      Wand.searchDs(spark, dir, batch, 10, chunkSize = 20).collect() // warms the df cache
      val jobs = jobsOf(Wand.searchDs(spark, dir, batch, 10, chunkSize = 20).collect())
      val parquet = schemaJobs(jobs)
      assert(parquet.isEmpty, s"parquet jobs in a 2-chunk local-batch searchDs: $parquet")
      assert(jobs.size == ChunkedJobs, s"a 2-chunk searchDs ran ${jobs.size} jobs: $jobs")
    }
  }

  test("each chunk of a 2-chunk searchDs plans its kernel over the pin: no exchange, no sort") {
    val dir = scratchDir("readjobs-pin")
    MultiGroupIndex.build(spark, dir)
    val batch = spark.createDataFrame((1L to 40L).map(i =>
      i -> s"w$i w${(i * 7) % 200} the")).toDF("query_id", "text")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // the kernel nodes of each executed plan that has one: the chunks'
    def kernelsPerPlan(): Seq[Seq[ShardKernelExec]] = {
      import scala.jdk.CollectionConverters._
      plans.asScala.toSeq.map(p => collect(p) { case e: ShardKernelExec => e }).filter(_.nonEmpty)
    }
    spark.listenerManager.register(listener)
    try {
      Wand.searchDs(spark, dir, batch, 10, chunkSize = 20).collect()
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      while (kernelsPerPlan().size < 2 && System.nanoTime() < deadline) Thread.sleep(10)
    } finally spark.listenerManager.unregister(listener)
    val chunks = kernelsPerPlan()
    assert(chunks.size == 2 && chunks.forall(_.size == 1),
      s"chunk plans with ShardKernelExec nodes: ${chunks.map(_.size)}")
    for (kernel <- chunks.map(_.head)) {
      val between = collect(kernel.child) { case e: Exchange => e; case s: SortExec => s }
      assert(between.isEmpty, s"a chunk plans $between between the pin and its kernel:\n$kernel")
      assert(collect(kernel.child) { case s: InMemoryTableScanExec => s }.nonEmpty,
        s"a chunk's kernel does not read the pin:\n$kernel")
    }
  }

  test("an IvfIndex.search runs the same jobs at 1 and at 3 committed segments, and no schema inference job") {
    val dir = scratchDir("readjobs-ivf")
    IvfIndex.build(IvfVecs(spark, 0, 200), dir, nCells = 4, iters = 2)
    val queries = IvfVecs.queries(spark, 3)
    def search(): Unit = { IvfIndex.search(spark, dir, queries, k = 10, nProbe = 2).collect(); () }
    listening {
      search() // warm
      val at1 = jobsOf(search())
      IvfIndex.append(IvfVecs(spark, 200, 240), dir)
      IvfIndex.append(IvfVecs(spark, 240, 280), dir)
      assert(IvfIndex.snapshot(dir).segments.size == 3)
      search()
      val at3 = jobsOf(search())
      assert(schemaJobs(at1 ++ at3).isEmpty, s"schema jobs in IvfIndex.search: $at1 / $at3")
      assert(at1.size == at3.size, s"job count moved with the segment count: $at1 vs $at3")
    }
  }
}
