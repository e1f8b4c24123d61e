package loadbench

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Spans around the harness's calls into the engine's public layer
  * functions, attributed from outside the engine: each span sets a Spark
  * job group, and [[Trace.Listener]] files every job, stage and task under
  * the group that submitted it and under the engine module at the job's
  * call site.
  *
  * With tracing off, [[span]] only runs its body: the untraced run pays no
  * listener and sets no job group.
  */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val listener = new Listener
  if (enabled) sc.addSparkListener(listener)

  private val spans = mutable.ArrayBuffer.empty[SpanRec]

  /** Run `body` as one call of span `name`; `units` is the work it was
    * handed (queries, documents), the base of the span's ratios.
    */
  def span[T](name: String, units: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val group = s"loadbench-${spans.size}"
      sc.setJobGroup(group, name, interruptOnCancel = false)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      try body
      finally {
        val wallMs = (System.nanoTime() - t0) / 1e6
        sc.clearJobGroup()
        spans += SpanRec(group, name, startMs, startMs + math.round(wallMs),
          wallMs, units)
      }
    }

  /** Per-layer metrics for every span in [[Spans]] (zeros for spans this
    * workload never called) plus the module split and the ratios.
    */
  def layerMetrics(): Map[String, Metric] = {
    require(enabled, "layerMetrics needs a traced run")
    fence()
    // a job whose call site holds no engine frame was triggered by the
    // harness on a frame the span's entry point returned: it
    // belongs to that entry point's module; work outside spans (the
    // correctness gate) is not the workload's and is left out
    val spanOf = spans.map(s => s.group -> s.name).toMap
    def resolve(group: String, module: String): String =
      if (module != Other) module else EntryModule(spanOf(group))
    val jobs = listener.jobsSnapshot().filter(j => spanOf.contains(j.group))
      .map(j => j.copy(module = resolve(j.group, j.module)))
    val stages = listener.stagesSnapshot().filter(s => spanOf.contains(s.group))
      .map(s => s.copy(module = resolve(s.group, s.module)))
    val out = mutable.LinkedHashMap.empty[String, Metric]
    val byName = spans.groupBy(_.name)
    for (name <- Spans) {
      val calls = byName.getOrElse(name, mutable.ArrayBuffer.empty)
      val groups = calls.map(_.group).toSet
      val js = jobs.filter(j => groups.contains(j.group))
      val ss = stages.filter(s => groups.contains(s.group))
      val wall = calls.map(_.wallMs).sum
      val driver = calls.map { c =>
        val covered = coveredMs(js.filter(_.group == c.group)
          .map(j => (math.max(j.startMs, c.startMs), math.min(j.endMs, c.endMs))))
        math.max(0.0, c.wallMs - covered)
      }.sum
      def put(m: String, v: Double, unit: String): Unit =
        out(s"$name.$m") = Metric(v, unit)
      put("calls", calls.size, "count")
      put("wall_ms", wall, "ms")
      put("driver_ms", driver, "ms")
      put("jobs", js.size, "count")
      put("stages", ss.size, "count")
      put("tasks", ss.map(_.tasks).sum, "count")
      put("executor_run_ms", ss.map(_.runMs).sum, "ms")
      put("executor_cpu_ms", ss.map(_.cpuMs).sum, "ms")
      put("gc_ms", ss.map(_.gcMs).sum, "ms")
      put("shuffle_write_bytes", ss.map(_.shuffleWrite).sum, "bytes")
      put("shuffle_read_bytes", ss.map(_.shuffleRead).sum, "bytes")
      put("spill_bytes", ss.map(_.spill).sum, "bytes")
      put("output_bytes", ss.map(_.output).sum, "bytes")
      put("task_skew", (0.0 +: ss.map(_.skew)).max, "ratio")
    }
    for (module <- Modules) {
      val js = jobs.filter(_.module == module)
      val ss = stages.filter(_.module == module)
      out(s"stage.$module.executor_run_ms") = Metric(ss.map(_.runMs).sum, "ms")
      out(s"stage.$module.shuffle_write_bytes") =
        Metric(ss.map(_.shuffleWrite).sum, "bytes")
      out(s"stage.$module.jobs") = Metric(js.size, "count")
    }
    def units(name: String): Double =
      byName.get(name).map(_.map(_.units).sum).getOrElse(0L).toDouble
    def ratio(num: Double, den: Double): Double = if (den > 0) num / den else 0.0
    out("query.searchDs.shuffle_read_bytes_per_query") = Metric(ratio(
      out("query.searchDs.shuffle_read_bytes").value, units("query.searchDs")), "bytes")
    out("query.search.driver_share") = Metric(ratio(
      out("query.search.driver_ms").value, out("query.search.wall_ms").value), "ratio")
    out("corpus.appendPages.output_bytes_per_doc") = Metric(ratio(
      out("corpus.appendPages.output_bytes").value, units("corpus.appendPages")), "bytes")
    out("index.compact.output_bytes_per_live_doc") = Metric(ratio(
      out("index.compact.output_bytes").value, units("index.compact")), "bytes")
    out.toMap
  }

  /** Raw span list for the sidecar. */
  def spanLog(): Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("name" -> s.name, "group" -> s.group, "wall_ms" -> s.wallMs,
      "units" -> s.units)
  }

  /** Jobs inside a span whose module is not in [[Modules]] (should stay 0). */
  def unattributedJobs(): Long = {
    val groups = spans.map(_.group).toSet
    listener.jobsSnapshot().count(j => groups.contains(j.group) &&
      j.module != Other && !Modules.contains(j.module))
  }

  /** Wait until the listener has seen every event posted so far: run one
    * marker job and wait for its end event (the bus delivers in order).
    */
  private def fence(): Unit = {
    sc.setJobGroup(FenceGroup, "fence", interruptOnCancel = false)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!listener.fenceSeen && System.nanoTime() < deadline) Thread.sleep(10)
    require(listener.fenceSeen, "Spark listener did not drain within 30 s")
  }
}

object Trace {
  /** Spans the harness records, one per public layer entry point. */
  val Spans: Seq[String] = Seq("corpus.buildIndex", "corpus.appendPages",
    "index.delete", "index.compact", "query.searchDs", "query.phraseSearchDs",
    "query.search")

  /** Submitting modules reported in the module split. */
  val Modules: Seq[String] = Seq("corpus.PagesPipeline", "index.DocIds",
    "index.PackedIndex", "index.InvertedIndex", "query.IndexCache",
    "query.Wand", "query.ChunkedServe", "query.Phrase")

  /** The object behind each span's entry point. */
  val EntryModule: Map[String, String] = Map(
    "corpus.buildIndex" -> "corpus.PagesPipeline",
    "corpus.appendPages" -> "corpus.PagesPipeline",
    "index.delete" -> "index.PackedIndex",
    "index.compact" -> "index.PackedIndex",
    "query.searchDs" -> "query.Wand",
    "query.phraseSearchDs" -> "query.Phrase",
    "query.search" -> "query.Wand")

  val Other = "other"
  private val FenceGroup = "loadbench-fence"

  final case class SpanRec(group: String, name: String, startMs: Long,
                           endMs: Long, wallMs: Double, units: Long)
  final case class JobRec(group: String, module: String, startMs: Long,
                          endMs: Long)
  final case class StageRec(group: String, module: String, tasks: Int,
                            runMs: Double, cpuMs: Double, gcMs: Double,
                            shuffleWrite: Double, shuffleRead: Double,
                            spill: Double, output: Double, skew: Double)

  private val FramePattern =
    """^\s*(?:at\s+)?graft\.([A-Za-z0-9_]+)\.([A-Za-z0-9_]+)""".r.unanchored

  /** Engine module of a call site: the first `graft.<module>.<Object>`
    * frame outside `graft.io` (storage plumbing) — e.g. "query.Wand".
    */
  def moduleOf(callSite: String): String =
    Option(callSite).toSeq.flatMap(_.split("\n")).iterator
      .collect { case FramePattern(pkg, obj) if pkg != "io" =>
        s"$pkg.${obj.takeWhile(_ != '$')}"
      }
      .nextOption().getOrElse(Other)

  /** Total length of the union of [start, end] intervals, in ms. */
  def coveredMs(intervals: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total.toDouble
  }

  /** Listener state is written on the listener-bus thread and read by the
    * harness after [[Trace.fence]]; every access synchronizes on `this`.
    */
  final class Listener extends SparkListener {
    private val sqlCallSites = mutable.HashMap.empty[Long, String]
    private val jobs = mutable.HashMap.empty[Int, JobRec]
    private val stageOwner = mutable.HashMap.empty[Int, (String, String)]
    private val taskRunMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
    private val stages = mutable.ArrayBuffer.empty[StageRec]
    @volatile var fenceSeen = false

    private def groupOf(p: Properties): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
        .getOrElse("")

    private def callSiteOf(p: Properties, fallback: => String): String =
      Option(p).flatMap(x => Option(x.getProperty("spark.sql.execution.id")))
        .flatMap(id => sqlCallSites.get(id.toLong)).getOrElse(fallback)

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        synchronized { sqlCallSites(s.executionId) = s.details }
      case _ =>
    }

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val group = groupOf(e.properties)
      val site = callSiteOf(e.properties,
        e.stageInfos.sortBy(-_.stageId).headOption.map(_.details).orNull)
      jobs(e.jobId) = JobRec(group, moduleOf(site), e.time, Long.MaxValue)
      e.stageInfos.foreach(si => stageOwner.getOrElseUpdate(si.stageId,
        (group, moduleOf(callSiteOf(e.properties, si.details)))))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId).foreach { j =>
        jobs(e.jobId) = j.copy(endMs = e.time)
        if (j.group == FenceGroup) fenceSeen = true
      }
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskMetrics != null)
        taskRunMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          e.taskMetrics.executorRunTime
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      val si = e.stageInfo
      val (group, module) = stageOwner.getOrElse(si.stageId, ("", Other))
      val runs = taskRunMs.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty)
      val skew =
        if (runs.size < 2) 1.0
        else runs.max.toDouble / math.max(1.0, Stats.median(runs.map(_.toDouble).toSeq))
      val m = si.taskMetrics
      if (m != null && group != FenceGroup)
        stages += StageRec(group, module, si.numTasks,
          runMs = m.executorRunTime.toDouble,
          cpuMs = m.executorCpuTime / 1e6,
          gcMs = m.jvmGCTime.toDouble,
          shuffleWrite = m.shuffleWriteMetrics.bytesWritten.toDouble,
          shuffleRead = m.shuffleReadMetrics.totalBytesRead.toDouble,
          spill = m.diskBytesSpilled.toDouble,
          output = m.outputMetrics.bytesWritten.toDouble,
          skew = skew)
    }

    def jobsSnapshot(): Seq[JobRec] = synchronized {
      jobs.values.filter(_.group != FenceGroup).toSeq
    }
    def stagesSnapshot(): Seq[StageRec] = synchronized { stages.toSeq }
  }
}
