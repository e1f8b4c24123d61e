package loadbench

import org.apache.spark.sql.SparkSession
import scala.collection.immutable.ListMap
import scala.util.control.NonFatal

/** One benchmark run in this JVM. Invoked by `run.py`, which owns the
  * build, the scratch root and the JVM flags:
  *
  *   loadbench.Main --workload W --seed N --trace 0|1 --cores C
  *                  --scratch DIR --out FILE [--fault wrong_rank]
  *
  * Writes the run's result (figures, per-layer metrics, ledger) to FILE.
  */
object Main {

  /** The gated end-to-end slots and, per workload, the figure each holds. */
  val EndToEnd: Seq[String] = Seq("setup_s", "peak_rss_mb",
    "index_bytes_per_text_byte", "primary_cpu_ms", "secondary_cpu_ms", "tertiary_cpu_ms")
  /** Per workload: the figures behind the primary, secondary and tertiary slots. */
  val Slots: Map[String, Seq[String]] = Map(
    "ingest" -> Seq("build_cpu_ms_per_doc", "append_cpu_ms_per_doc", "compact_cpu_ms_per_doc"),
    "serve" -> Seq("bulk_cpu_ms_per_query", "phrase_cpu_ms_per_query", "read_cpu_ms_per_query"))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val traced = opts("trace") == "1"
    val cores = opts("cores").toInt
    val scratch = opts("scratch")
    val calibStart = graft.Bench.calibMops()
    val t0 = System.currentTimeMillis()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"loadbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$scratch/spark-local")
      .getOrCreate()
    val r = new Run(spark, new Trace(spark.sparkContext, traced), opts("seed").toLong,
      scratch, cores, opts.get("fault").toSeq.flatMap(_.split(",")).toSet)
    r.diag("session_s") = (System.currentTimeMillis() - t0) / 1000.0
    r.mark("session")
    try Workloads.run(workload, r)
    catch {
      case NonFatal(e) =>
        e.printStackTrace()
        r.fail(s"run aborted: $e")
    }
    val calibEnd = graft.Bench.calibMops()

    r.figures("setup_s") = Metric(r.setupSeconds, "s")
    r.figures("peak_rss_mb") = Metric(Proc.peakRssMb(), "MB")
    Seq("primary_cpu_ms", "secondary_cpu_ms", "tertiary_cpu_ms").zip(Slots(workload))
      .foreach { case (slot, fig) => r.figures.get(fig).foreach(r.figures(slot) = _) }
    val layers = if (traced) r.trace.layerMetrics() else Map.empty[String, Metric]
    val result = ListMap(
      "workload" -> workload,
      "seed" -> r.seed,
      "trace" -> traced,
      "correct" -> (r.failed == 0),
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "errors" -> r.errors.toSeq,
      "end_to_end" -> ListMap(EndToEnd.flatMap(n => r.figures.get(n).map(n -> _)): _*),
      "figures" -> ListMap(r.figures.toSeq: _*),
      "latencies_ms" -> ListMap(r.latencies.toSeq.map { case (k, v) => k -> v.toSeq }: _*),
      "cpu_ms" -> ListMap(r.cpuTimes.toSeq.map { case (k, v) => k -> v.toSeq }: _*),
      "per_layer" -> ListMap(layers.toSeq.sortBy(_._1): _*),
      "spans" -> (if (traced) r.trace.spanLog() else Nil),
      "jobs_in_unlisted_modules" -> (if (traced) r.trace.unattributedJobs() else 0L),
      "diag" -> ListMap((r.diag.toSeq ++ Seq(
        "cores" -> cores,
        "cpu_calib_start_mops" -> calibStart,
        "cpu_calib_end_mops" -> calibEnd)): _*))
    java.nio.file.Files.write(java.nio.file.Paths.get(opts("out")),
      Json.render(result).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
