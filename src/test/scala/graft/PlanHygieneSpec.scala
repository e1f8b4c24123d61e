package graft

import graft.index.{InvertedIndex, PackedIndex}
import graft.query.Bm25Query
import org.apache.spark.sql.functions._

/** Physical-plan regression tests: pushdown, pruning, broadcast selection.
  * These pin the plan shapes the 100TB design depends on — a regression
  * (e.g. a lost filter pushdown) would still pass row-level tests while
  * scanning orders of magnitude more data.
  */
class PlanHygieneSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private lazy val dir: String = {
    val d = scratchDir("plan-idx")
    corpus.PagesPipeline.buildIndex(
      corpus.PagesGen.pages(spark, 500, 4).toDF(), d, shardBits = 7, groups = 2)
    d
  }

  test("packed postings scan pushes the term IN filter to parquet") {
    val plan = PackedIndex.snapshot(dir).postings(spark)
      .filter(col("term").isin("the", "w5"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term, [the,w5])]"), plan.take(800))
  }

  test("positional rows scan pushes the term IN filter to parquet") {
    graft.index.PositionalIndex.build(
      corpus.PagesPipeline.tokenized(spark.read.parquet(s"$dir/docs_raw")), dir)
    val plan = graft.index.PositionalIndex.load(spark, dir)
      .filter(col("term").isin("the", "w5"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [In(term, [the,w5])]"), plan.take(800))
  }

  test("documents scan prunes columns and pushes filters") {
    val plan = DocsCorpus.documents(spark, "/root/testdata/sf0.001")
      .filter(col("lang") === "en")
      .select(col("doc_id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("EqualTo(lang,en)"), plan.take(800))
    // text (the wide column) must NOT be read
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,lang:string>"),
      plan.take(800))
  }

  test("batched BM25 broadcasts query terms and idf, never the postings") {
    val tok = DocsCorpus.tokenized(spark, "/root/testdata/sf0.001")
    val post = InvertedIndex.postings(tok)
    val dls = InvertedIndex.docLens(tok)
    val st = InvertedIndex.corpusStats(dls).first()
    val idf = InvertedIndex.idfTable(InvertedIndex.docFreq(post), st.getLong(0))
    val plan = Bm25Query.scoreBatch(post, idf, dls, st.getDouble(1),
      Bm25Query.queryTerms(DocsCorpus.fixedQueryBatch(spark)))
      .queryExecution.executedPlan.toString
    val broadcasts = "BroadcastHashJoin".r.findAllIn(plan).length
    assert(broadcasts >= 2, s"expected >=2 broadcast joins, plan:\n${plan.take(1200)}")
    assert(!plan.contains("CartesianProduct"))
  }

  test("exhaustive BM25 top-k uses TakeOrderedAndProject, no global window") {
    val qe = SparkEntry.queries("q_bm25_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    // every Window in the plan must carry a NON-EMPTY partition spec: the
    // plan string is `Window [exprs], [partSpec], [orderSpec]` — a window
    // with an empty/eliminated partition spec prints only two bracket
    // groups (the single-partition scale hazard WindowExec warns about)
    val windowLines = plan.linesIterator.filter(_.trim.matches(".*Window \\[.*")).toSeq
    assert(windowLines.nonEmpty, plan.take(1500))
    windowLines.foreach { l =>
      val groups = "\\], \\[".r.findAllIn(l).length
      assert(groups == 2, s"window lacks a partition spec: $l")
    }
  }

  test("filtered BM25 top-k: semi-join restriction sits BELOW the aggregate") {
    val qe = SparkEntry.queries("q_bm25_filtered_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    assert(plan.contains("LeftSemi"), plan.take(1500))
    // filter-then-score: the semi-join must appear on the BUILD side of the
    // score aggregation, i.e. deeper in the plan string than the first
    // HashAggregate — scoring filtered-out docs and discarding them after
    // the agg would shuffle the full corpus at 100 TB
    val aggIdx = plan.indexOf("HashAggregate")
    val semiIdx = plan.indexOf("LeftSemi")
    assert(aggIdx >= 0 && semiIdx > aggIdx,
      s"semi-join not below the aggregate (agg@$aggIdx, semi@$semiIdx)")
  }

  test("phrase top-k: bounded TakeOrdered, zero-shuffle narrow rescan") {
    val qe = SparkEntry.queries("q_phrase_topk")(spark, "/root/testdata/sf0.001")
      .queryExecution
    val plan = qe.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(1500))
    // r7: candidates come from an array_contains prefilter evaluated in the
    // SAME narrow stage as the count kernel — the conjunctive gate still
    // kills non-candidates before any position work, and the whole path to
    // the bounded top-k carries NO shuffle at all (the previous
    // postings-aggregation + LeftSemi shape paid two exchanges for the
    // same candidate set)
    assert(plan.contains("array_contains"), plan.take(1500))
    val exchanges = plan.linesIterator.count(_.contains("Exchange"))
    assert(exchanges == 0,
      s"expected a shuffle-free rescan plan, found $exchanges Exchange(s):\n" +
        plan.take(1500))
  }

  test("q_bm25_wand_topk runs through the strategy-planned ShardKernelExec") {
    val df = SparkEntry.queries("q_bm25_wand_topk")(spark, "/root/testdata/sf0.001")
    df.collect() // execute so AQE finalizes
    val kernels = collect(df.queryExecution.executedPlan) {
      case e: graft.plans.ShardKernelExec => e
    }
    assert(kernels.size == 1, df.queryExecution.executedPlan.toString.take(800))
  }

  test("persisted dictionary: prefix suggest pushes StartsWith; small-batch " +
       "spell suggest pushes the variant IN list") {
    import spark.implicits._
    val d = scratchDir("plan-dict")
    Seq(("spark", 10L), ("scan", 9L), ("table", 8L))
      .toDF("term", "df").write.parquet(s"$d/dict")
    val dict = spark.read.parquet(s"$d/dict")
    val prefixPlan = graft.query.SpellCorrect.prefixSuggest(dict, "sp", 5)
      .queryExecution.executedPlan.toString
    assert(prefixPlan.contains("StringStartsWith(term,sp)"), prefixPlan.take(800))
    graft.query.SpellCorrect.buildDeletionIndex(dict, s"$d/didx")
    val didx = spark.read.parquet(s"$d/didx")
    val suggestPlan = graft.query.SpellCorrect.suggest(
      Seq((1L, "sparkk")).toDF("query_id", "term"), didx, k = 5)
      .queryExecution.executedPlan.toString
    assert(suggestPlan.contains("In(variant"), suggestPlan.take(1200))
  }

  test("tokenize paths carry no UDF node — native expression only") {
    // The Python-parity tokenizer must reach plans ONLY as the codegen'd
    // Catalyst expression (plans/PyWsTokenize); a Scala UDF here would
    // break whole-stage codegen on the hottest path in the engine. The one
    // sanctioned UDF in the contract is the HTML extraction kernel, which
    // never appears in these tokenize-only plans.
    Seq("q_token_count", "q_postings", "q_bm25_topk").foreach { q =>
      val plan = SparkEntry.queries(q)(spark, "/root/testdata/sf0.001")
        .queryExecution.executedPlan.toString
      // match actual UDF evaluation nodes/expressions, not Spark's internal
      // UDFAdaptors wrapper that typed Dataset kernels (flatMap) print (r7)
      assert(!plan.contains("UDF(") && !plan.contains("ScalaUDF") &&
        !plan.contains("BatchEval"),
        s"$q plan contains a UDF:\n${plan.take(800)}")
    }
  }

  test("stopword filtering preserves duplicate non-stopword tokens") {
    import spark.implicits._
    val df = Seq((1L, "the cat the cat sat on a mat cat")).toDF("doc_id", "text")
    val toks = InvertedIndex.tokenize(df, "doc_id", "text",
      stopwords = Seq("the", "a", "on"))
      .select("terms").as[Seq[String]].head()
    assert(toks == Seq("cat", "cat", "sat", "mat", "cat")) // tf preserved, order kept
  }

  test("extraction pipeline prunes the html column after the kernel") {
    val pages = corpus.PagesGen.pages(spark, 10, 2).toDF()
    // tokenized output never needs html/warc_ts: ensure projection happens
    val plan = corpus.PagesPipeline.tokenized(
      corpus.PagesPipeline.docs(pages))
      .queryExecution.optimizedPlan.toString
    assert(plan.contains("doc_id"), plan.take(500))
  }
}
