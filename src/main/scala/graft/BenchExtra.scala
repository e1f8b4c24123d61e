package graft

import org.apache.spark.sql.SparkSession

/** Round-7 optimization probe harness (guide §1: measure first, isolate).
  * NOT part of the frozen bench contract — [[Bench]] is untouched; this
  * main exists so individual battery lines can be re-measured with
  * repetitions (the host shows sporadic multi-second stalls, so single
  * samples routinely lie) and so `.explain("formatted")` plans can be
  * captured to files for the plans/r07 evidence.
  *
  * Usage:
  *   runMain graft.BenchExtra battery q_a,q_b,... [reps]
  *   runMain graft.BenchExtra plans q_a,q_b,... <outDir> [suffix]
  *   runMain graft.BenchExtra pages [reps]
  *   runMain graft.BenchExtra ds [nQueries] [chunkSize] [reps] [nPages]
  *   runMain graft.BenchExtra dsparity [nQueries] [chunkSize]
  *   runMain graft.BenchExtra batch [nQueries] [reps]
  *   runMain graft.BenchExtra wandbuild [reps]
  *
  * Every index a mode builds lives in a `graft-bx*` temp dir that is
  * deleted when the mode ends, failed runs included.
  * Session config mirrors [[Bench]] exactly (same master, shuffle
  * partitions, AQE, split size) so numbers are comparable to the frozen
  * battery's per-line seconds.
  */
object BenchExtra {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    Bench.cleanOwnScratch()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val calib0 = Bench.calibMops()

    import Bench.withTmp
    def timed(f: => Unit): Double = {
      val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9
    }
    args.headOption.getOrElse("battery") match {
      case "battery" =>
        val names = args(1).split(",").toSeq
        val reps = args.lift(2).map(_.toInt).getOrElse(3)
        names.foreach { name =>
          val fn = SparkEntry.queries.getOrElse(name,
            sys.error(s"unknown query $name"))
          spark.sparkContext.setJobDescription(s"probe:$name")
          val secs = (1 to reps).map(_ =>
            SparkEntry.withScratch(timed(fn(spark, sfDir).count())))
          println(f"""{"probe":"$name","secs":[${secs.map(s => f"$s%.3f").mkString(",")}],"min":${secs.min}%.3f}""")
        }

      case "plans" =>
        val names = args(1).split(",").toSeq
        val outDir = args(2)
        val suffix = args.lift(3).getOrElse("")
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        names.foreach { name =>
          val fn = SparkEntry.queries.getOrElse(name,
            sys.error(s"unknown query $name"))
          val plan = SparkEntry.withScratch(fn(spark, sfDir).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          java.nio.file.Files.write(
            java.nio.file.Paths.get(outDir, s"$name$suffix.txt"),
            plan.getBytes(java.nio.charset.StandardCharsets.UTF_8))
          println(s"""{"probe":"plan","query":"$name","out":"$outDir/$name$suffix.txt"}""")
        }

      case "pages" =>
        val reps = args.lift(1).map(_.toInt).getOrElse(2)
        val nPages = 100000L
        withTmp("graft-bx") { tmp =>
          corpus.PagesGen.pages(spark, nPages, cpus.toInt * 2).toDF()
            .write.mode("overwrite").parquet(s"$tmp/pages")
          val pages = spark.read.parquet(s"$tmp/pages")
          (1 to reps).foreach { r =>
            val dir = s"$tmp/idx$r"
            val sec = timed(
              corpus.PagesPipeline.buildIndex(pages, dir, shardBits = 12, groups = 2))
            println(f"""{"probe":"pages_build","rep":$r,"sec":$sec%.2f,"docs_per_sec":${nPages / sec}%.0f}""")
          }
        }

      case "ds" =>
        // the Dataset-batch path alone: build the standard index, then
        // `reps` runs of one searchDs batch — the in-battery
        // wand_query_ds_10k line shares its JVM with heavier queries
        val nQ = args.lift(1).map(_.toInt).getOrElse(10000)
        val chunk = args.lift(2).map(_.toInt).getOrElse(2500)
        val reps = args.lift(3).map(_.toInt).getOrElse(3)
        val nPages = args.lift(4).map(_.toLong).getOrElse(100000L)
        withTmp("graft-bx") { tmp =>
          corpus.PagesPipeline.buildIndex(
            corpus.PagesGen.pages(spark, nPages, cpus.toInt * 2).toDF(),
            s"$tmp/idx", shardBits = 12, groups = 2)
          import spark.implicits._
          val batch = Bench.queryBatch(nQ).toDF("query_id", "text")
          (1 to reps).foreach { r =>
            var hits = 0L
            val sec = timed {
              hits = query.Wand.searchDs(spark, s"$tmp/idx", batch, k = 10,
                chunkSize = chunk).count()
            }
            println(f"""{"probe":"ds_$nQ","rep":$r,"sec":$sec%.2f,"qps":${nQ / sec}%.0f,"hits":$hits,"n_pages":$nPages}""")
          }
        }

      case "dsparity" =>
        // large-scale parity audit: searchDs (chunked, shared cached
        // postings) vs the Seq-batch search() on the same queries — row
        // sets must be identical
        val nQ = args.lift(1).map(_.toInt).getOrElse(10000)
        val chunk = args.lift(2).map(_.toInt).getOrElse(2500)
        withTmp("graft-bx") { tmp =>
          corpus.PagesPipeline.buildIndex(
            corpus.PagesGen.pages(spark, 100000L, cpus.toInt * 2).toDF(),
            s"$tmp/idx", shardBits = 12, groups = 2)
          val qs = Bench.queryBatch(nQ)
          import spark.implicits._
          val a = query.Wand.searchDs(spark, s"$tmp/idx",
              qs.toDF("query_id", "text"), k = 10, chunkSize = chunk)
            .select("query_id", "doc_id", "score", "rank")
          val b = query.Wand.search(spark, s"$tmp/idx", qs, k = 10)
            .select("query_id", "doc_id", "score", "rank")
          val onlyA = a.exceptAll(b).count()
          val onlyB = b.exceptAll(a).count()
          val nA = a.count()
          println(s"""{"probe":"dsparity","rows":$nA,"only_ds":$onlyA,"only_seq":$onlyB,"identical":${onlyA == 0 && onlyB == 0}}""")
        }

      case "batch" =>
        // direct Seq-batch Wand.search on the 100k-page index (one job, no
        // chunking) — isolates the kernel+rank cost per batch size
        val nQ = args.lift(1).map(_.toInt).getOrElse(2500)
        val reps = args.lift(2).map(_.toInt).getOrElse(4)
        withTmp("graft-bx") { tmp =>
          corpus.PagesPipeline.buildIndex(
            corpus.PagesGen.pages(spark, 100000L, cpus.toInt * 2).toDF(),
            s"$tmp/idx", shardBits = 12, groups = 2)
          val qs = Bench.queryBatch(nQ)
          (1 to reps).foreach { r =>
            val sec = timed(query.Wand.search(spark, s"$tmp/idx", qs, k = 10).count())
            println(f"""{"probe":"batch_$nQ","rep":$r,"sec":$sec%.2f,"qps":${nQ / sec}%.0f}""")
          }
        }

      case "wandbuild" =>
        // contract-scale PackedIndex.build phase breakdown (the fixed cost
        // ~15 battery lines pay): stats collection, group jobs, df, eps
        val reps = args.lift(1).map(_.toInt).getOrElse(3)
        (1 to reps).foreach { r =>
          val tok = DocsCorpus.tokenized(spark, sfDir)
          withTmp("graft-bxwb") { dir =>
            val t0 = System.nanoTime()
            graft.index.PackedIndex.build(tok, dir, shardBits = 7, groups = 2,
              stageInput = false)
            val buildSec = (System.nanoTime() - t0) / 1e9
            val t1 = System.nanoTime()
            val hits = query.Wand.search(spark, dir,
              Seq(0L -> DocsCorpus.fixedQuery.mkString(" ")), k = 200).count()
            val qSec = (System.nanoTime() - t1) / 1e9
            println(f"""{"probe":"wandbuild","rep":$r,"build_sec":$buildSec%.3f,"query_sec":$qSec%.3f,"hits":$hits}""")
          }
        }

      case other => sys.error(s"unknown mode $other")
    }
    val calib1 = Bench.calibMops()
    println(f"""{"probe":"meta","cpu_calib_start_mops":$calib0%.0f,"cpu_calib_end_mops":$calib1%.0f}""")
    spark.stop()
  }
}
