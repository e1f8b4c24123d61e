package loadbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable
import scala.util.control.NonFatal

/** State of one benchmark invocation: the session, the tracer, the
  * seeded randomness, and the ledger of operations attempted and failed.
  */
final class Run(val spark: SparkSession, val trace: Trace, val seed: Long,
                val scratch: String, val cores: Int, val faults: Set[String]) {
  val rnd = new scala.util.Random(seed)
  private val jvmStartMs =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  private var firstTimedMs = -1L

  var attempted = 0L
  var failed = 0L
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer.empty
  /** Latencies (ms) of successful timed operations, by kind. */
  val latencies: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  /** CPU time (ms) this JVM spent during each successful timed operation:
    * time the hypervisor stole is not charged to it, so it stays steady
    * where wall time does not.
    */
  val cpuTimes: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] =
    mutable.LinkedHashMap.empty
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Named figures: the gated end-to-end slots plus the workload's own names. */
  val figures: mutable.LinkedHashMap[String, Metric] = mutable.LinkedHashMap.empty
  val diag: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap.empty

  def path(name: String): String = s"$scratch/work/$name"

  /** One timed operation. A failure is counted and never contributes a
    * latency.
    */
  def timed[T](kind: String)(body: => T): Option[T] = {
    if (firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()
    attempted += 1
    val c0 = os.getProcessCpuTime
    val t0 = System.nanoTime()
    try {
      val r = body
      latencies.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (System.nanoTime() - t0) / 1e6
      cpuTimes.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) +=
        (os.getProcessCpuTime - c0) / 1e6
      Some(r)
    } catch {
      case NonFatal(e) =>
        fail(s"$kind: $e")
        None
    }
  }

  /** One correctness check: `body` returns a mismatch description or None. */
  def check(label: String)(body: => Option[String]): Unit = {
    attempted += 1
    try body.foreach(fail)
    catch { case NonFatal(e) => fail(s"$label: $e") }
  }

  def fail(msg: String): Unit = {
    failed += 1
    errors += msg
    System.err.println(s"loadbench: FAILED $msg")
  }

  /** Record when a phase of the run ended, in seconds since JVM start. */
  def mark(phase: String): Unit =
    diag(s"${phase}_end_s") = (System.currentTimeMillis() - jvmStartMs) / 1000.0

  def lat(kind: String): Seq[Double] = latencies.get(kind).map(_.toSeq).getOrElse(Nil)

  /** Seconds from JVM start to the first timed operation. */
  def setupSeconds: Double = (firstTimedMs - jvmStartMs) / 1000.0

  /** Median of `units` items per second over the timed operations of `kind`. */
  def medianRate(kind: String, units: Long): Double =
    Stats.median(lat(kind).map(ms => units / (ms / 1000.0)))

  /** This JVM's CPU ms per item over all timed operations of `kind`, each
    * handling `units` items. A sum, not a median: CPU time is counted in
    * 10 ms ticks and bursts of JIT compilation land on single operations.
    */
  def cpuPerItem(kind: String, units: Long): Double = {
    val cpu = cpuTimes.getOrElse(kind, Nil)
    require(cpu.nonEmpty, s"no successful $kind operation")
    cpu.sum / (cpu.size * units)
  }
}
