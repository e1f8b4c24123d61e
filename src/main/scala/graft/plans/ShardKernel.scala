package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.UnsafeRowWriter
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical._
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types.{DoubleType, LongType}
import graft.query.ShardServe
import graft.query.ShardServe.TopKHeap

/** The one shard-kernel operator (SURVEY §4 item 6): WAND and positional
  * serving plan this node over their term-filtered postings rows
  * ([[ShardServe.kernelHits]]). Its exec requires the rows in the shard
  * layout ([[ShardServe.Layout]]), so `EnsureRequirements` adds the shard
  * exchange and sort only when the child lacks them: a pinned, laid-out
  * child runs none. Output: the pre-rank candidates (query_id, doc_id,
  * score), at most k per (task, query).
  *
  * Ann's heap kernels stay outside the node: a corpus partition has no
  * shard key or ordering, and the per-shard buffer would hold it whole.
  */
final case class ShardKernel(kernel: ShardKernel.Kernel[_], partitions: Int,
                             child: LogicalPlan,
                             // a case-class FIELD so tree copies keep exprIds
                             override val output: Seq[Attribute] = ShardKernel.hitSchema)
    extends UnaryNode {
  // the kernel decodes whole rows: no column of the child may be pruned
  override def references: AttributeSet = child.outputSet
  override protected def withNewChildInternal(c: LogicalPlan): ShardKernel = copy(child = c)
}

object ShardKernel {
  private[plans] def hitSchema: Seq[Attribute] = Seq(
    AttributeReference("query_id", LongType, nullable = false)(),
    AttributeReference("doc_id", LongType, nullable = false)(),
    AttributeReference("score", DoubleType, nullable = false)())

  /** One shard kernel, `name`d in the plan: rows decode to `T` through
    * `encoder`; `perShard(rows, heaps)` runs once per shard group and
    * offers query i's candidates into `heaps(i)`; `queryIds()` (once per
    * task) names query i. `k <= 0` keeps every candidate.
    */
  final class Kernel[T](name: String, val encoder: Encoder[T], val k: Int,
                        val queryIds: () => Array[Long])(
      val perShard: (Iterator[T], Array[TopKHeap]) => Unit) extends Serializable {
    override def toString: String = s"$name(k=$k)"
  }
}

/** Plans [[ShardKernel]] into [[ShardKernelExec]] over its planned child. */
object ShardKernelStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: ShardKernel =>
      ShardKernelExec(n.kernel, n.partitions, n.output, planLater(n.child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to `spark` unless [[GraftExtensions]] or an earlier
    * call did. Synchronized: chunk threads build their nodes concurrently.
    */
  def register(spark: SparkSession): Unit = synchronized {
    if (!spark.sessionState.planner.extraPlanningStrategies.contains(this) &&
        !spark.experimental.extraStrategies.contains(this))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ this
  }
}

/** Per task: one [[TopKHeap]] per query; each shard group's rows are
  * decoded, buffered and handed to the kernel; then every heap drains as
  * (query_id, doc_id, score) rows. Metrics are counted per task and added
  * once, at the task's end.
  */
final case class ShardKernelExec(kernel: ShardKernel.Kernel[_], partitions: Int,
                                 output: Seq[Attribute], child: SparkPlan)
    extends UnaryExecNode {
  override def producedAttributes: AttributeSet = outputSet

  private def layout: Seq[Attribute] =
    ShardServe.Layout.map(name => child.output.find(_.name == name).get)

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(layout.take(1), requiredNumPartitions = Some(partitions)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    layout.map(SortOrder(_, Ascending)) :: Nil

  // a single partition stays single (a one-shard index ranks without a
  // shuffle); otherwise the hits follow no key of the output
  override def outputPartitioning: Partitioning = child.outputPartitioning.numPartitions match {
    case 1 => SinglePartition
    case n => UnknownPartitioning(n)
  }

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "shards" -> SQLMetrics.createMetric(sparkContext, "shard groups served"),
    "inputRows" -> SQLMetrics.createMetric(sparkContext, "postings rows read"))

  override protected def doExecute(): RDD[InternalRow] = run(kernel)

  private def run[T](kernel: ShardKernel.Kernel[T]): RDD[InternalRow] = {
    val decoder = encoderFor(kernel.encoder).resolveAndBind(child.output)
    val shardAt = child.output.indexOf(layout.head)
    val (k, queryIds, perShard) = (kernel.k, kernel.queryIds, kernel.perShard)
    val Seq(outRows, shardsServed, inRows) =
      Seq("numOutputRows", "shards", "inputRows").map(longMetric)
    child.execute().mapPartitions { it =>
      val decode = decoder.createDeserializer()
      val ids = queryIds()
      val heaps = Array.fill(ids.length)(new TopKHeap(if (k > 0) k else Int.MaxValue))
      val buf = it.buffered
      var (shards, rowsIn) = (0L, 0L)
      while (buf.hasNext) {
        val shard = buf.head.getInt(shardAt)
        val rows = scala.collection.mutable.ArrayBuffer.empty[T]
        while (buf.hasNext && buf.head.getInt(shardAt) == shard) rows += decode(buf.next())
        perShard(rows.iterator, heaps)
        shards += 1
        rowsIn += rows.length
      }
      shardsServed += shards
      inRows += rowsIn
      outRows += heaps.iterator.map(_.size.toLong).sum
      val w = new UnsafeRowWriter(3)
      ids.iterator.zip(heaps.iterator).flatMap { case (q, h) =>
        h.drain().iterator.map { case (s, d) =>
          w.reset(); w.zeroOutNullBytes(); w.write(0, q); w.write(1, d); w.write(2, s)
          w.getRow: InternalRow
        }
      }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): ShardKernelExec = copy(child = c)
}
