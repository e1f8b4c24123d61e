package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ann.{Ann, IvfIndex}

/** Persisted-IVF evidence at the 2M-vector scale point: synthesizes the
  * same deterministic 16-dim embeddings DedupBench uses (one xxhash64 per
  * token, +-1 bit sums) from the pages corpus, trains + persists an
  * IvfIndex, then measures serving cost and recall vs brute force for a
  * query batch at several nProbe points.
  *
  * Usage: runMain graft.IvfScaleProbe <pagesPath> [cores] [nCells] [iters] [storage] [norm]
  * (nCells = 0 derives IvfIndex.autoCells(N); storage = f64|f32; norm=l2
  * L2-normalizes the synthetic embeddings so vector components carry
  * real-valued mantissas like model embeddings do — the raw token-sum
  * vectors are integer-valued, which parquet encodes as compactly in f64
  * as in f32, hiding the storage mode's scan-byte effect)
  */
object IvfScaleProbe {

  private def timed[A](f: => A): (Double, A) = {
    val t0 = System.nanoTime()
    val r = f
    ((System.nanoTime() - t0) / 1e9, r)
  }

  def main(args: Array[String]): Unit = {
    val pagesPath = args(0)
    val cores = if (args.length > 1) args(1) else "32"
    val nCells = if (args.length > 2) args(2).toInt else 256
    val iters = if (args.length > 3) args(3).toInt else 2
    val storage = if (args.length > 4) args(4) else "f64"
    val norm = args.length > 5 && args(5) == "l2"
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toInt)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "4m")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val calib0 = Bench.calibMops()

    // stage embeddings (untimed — the corpus shape, not the operator)
    val tmp = java.nio.file.Files.createTempDirectory("graft-ivfscale").toString
    val dims = 16
    val docs = corpus.PagesPipeline.docs(spark.read.parquet(pagesPath))
      .select(col("doc_id"), col("text"))
    val toks = graft.tokenize.PyTokenize.asciiSplit(lower(col("text")))
    val sums = (0 until dims).map(i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, 1.0)
        .otherwise(-1.0)).as(s"d$i"))
    val rawVec = array((0 until dims).map(i => col(s"d$i")): _*)
    val vecExpr =
      if (!norm) rawVec
      else {
        val l2 = sqrt(aggregate(rawVec, lit(0.0), (a, x) => a + x * x))
        transform(rawVec, x => x / greatest(l2, lit(1e-12)))
      }
    docs.select(col("doc_id"), explode(toks).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
      .groupBy(col("doc_id"))
      .agg(sums.head, sums.tail: _*)
      .select(col("doc_id").as("vec_id"), vecExpr.as("vec"))
      .write.mode("overwrite").parquet(s"$tmp/emb")
    val emb = spark.read.parquet(s"$tmp/emb")
    val nVecs = emb.count()

    // train + persist (timed: the build-once cost)
    val idxDir = s"$tmp/ivf"
    val (buildSec, _) = timed {
      IvfIndex.build(emb, idxDir, nCells = nCells, iters = iters,
        storage = storage)
    }
    val snap = IvfIndex.snapshot(idxDir)
    val builtCells = snap.nCells
    val segBytes = {
      def walk(f: java.io.File): Long =
        if (f.isFile) f.length()
        else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      walk(new java.io.File(s"$idxDir/cells"))
    }
    println(s"""{"probe":"ivf_scale_build","sec":${f"$buildSec%.1f"},"vecs_per_sec":${f"${nVecs / buildSec}%.0f"},"n_vecs":$nVecs,"n_cells":$builtCells,"iters":$iters,"storage":"$storage","norm":$norm,"segment_bytes":$segBytes}""")

    // query batch: every 20000th vector (deterministic, spans the corpus)
    val queries = emb.filter(pmod(col("vec_id"), lit(20000L)) === 7L)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
      .localCheckpoint()
    val nq = queries.count()
    val (bfSec, _) = timed {
      Ann.bruteForceTopK(queries, emb.select(col("vec_id"), col("vec")), 10).count()
    }
    val exact = Ann.bruteForceTopK(queries, emb.select(col("vec_id"), col("vec")), 10)
      .select(col("query_id"), col("vec_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"""{"probe":"ivf_scale_bruteforce","sec":${f"$bfSec%.1f"},"qps":${f"${nq / bfSec}%.1f"},"n_queries":$nq}""")

    val cellSizes = snap.cells(spark).groupBy(col("cell_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cents = snap.centroids
    for (nProbe <- Seq(4, 16, 64)) {
      val (sec, _) = timed {
        IvfIndex.search(spark, snap, queries, 10, nProbe, None).count()
      }
      val got = IvfIndex.search(spark, snap, queries, 10, nProbe, None)
        .select(col("query_id"), col("vec_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (exact & got).size.toDouble / exact.size
      import spark.implicits._
      val probes = Ann.probeCells(queries,
        cents.toSeq.map { case (id, v) => (id, v.toSeq) }.toDF("cell_id", "cvec"),
        nProbe)
      val scanned = probes.select(col("cell_id")).collect()
        .map(r => cellSizes.getOrElse(r.getLong(0), 0L)).sum
      val frac = scanned.toDouble / (nq * nVecs)
      println(s"""{"probe":"ivf_scale_search","n_probe":$nProbe,"sec":${f"$sec%.1f"},"qps":${f"${nq / sec}%.1f"},"recall":${f"$recall%.3f"},"scanned_fraction":${f"$frac%.4f"}}""")
    }
    val calib1 = Bench.calibMops()
    println(s"""{"probe":"ivf_scale_meta","cpu_calib_start_mops":${f"$calib0%.0f"},"cpu_calib_end_mops":${f"$calib1%.0f"}}""")
    spark.stop()
  }
}
