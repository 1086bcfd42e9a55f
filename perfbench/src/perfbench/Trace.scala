package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a call from the benchmark into a layer. Spans of one op
  * (a cycle, a pass or a refresh) share `op`.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
}

/** In-memory span recorder plus per-op counters. Recording is on only
  * for traced ops; `span` is a plain call otherwise.
  */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var on = false
  private var op = -1
  private var stack: List[Int] = Nil
  /** Per traced op: counter name → value. */
  val counters = mutable.ArrayBuffer.empty[mutable.Map[String, Double]]

  def beginOp(id: Int, traced: Boolean): Unit = {
    on = traced; op = id; stack = Nil
    if (traced) counters += mutable.Map.empty[String, Double].withDefaultValue(0.0)
  }
  def traced: Boolean = on
  def add(name: String, v: Double): Unit = if (on) counters.last(name) += v

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, parent, op, name, System.nanoTime(), 0L)
      stack = id :: stack
      try body
      finally {
        stack = stack.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** Self time per layer, summed over all spans: a span's duration minus
    * the part its children cover.
    */
  def selfTimeS: Map[String, Double] = {
    val childNs = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    spans.zipWithIndex.foreach { case (s, i) =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      sb.append(if (i + 1 < spans.size) ",\n" else "\n")
    }
    java.nio.file.Files.writeString(path, sb.append("]\n").toString)
  }
}

/** Job, stage and task counts from the scheduler, drained per op. */
final class SchedulerCounts extends SparkListener {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = tasks.incrementAndGet()
  def drain(): (Long, Long, Long) = (jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0))
}

/** Attributes the batch queries of a silver refresh to their table: the
  * write into silver/<table> (with the bronze files its scan opened) and
  * the watermark read of silver/<table>/insert_day=<last day>. KPI reads
  * of whole silver tables match neither and are not counted.
  */
final class SilverQueries extends QueryExecutionListener {
  private val written = "/silver/([A-Za-z_]+)".r
  private val watermark = "/silver/([A-Za-z_]+)/insert_day=".r
  val nanos = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  val bronzeFiles = new AtomicLong

  private def walk(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: walk(a.executedPlan)
    case q: QueryStageExec => q +: walk(q.plan)
    case o => o +: o.children.flatMap(walk)
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val nodes = walk(qe.executedPlan)
    val scans = nodes.collect { case f: FileSourceScanExec => f }
    val out = nodes.collect {
      case w: DataWritingCommandExec => w.cmd match {
        case i: InsertIntoHadoopFsRelationCommand => written.findFirstMatchIn(i.outputPath.toString).map(_.group(1))
        case _ => None
      }
    }.flatten.headOption
    val wm = scans.flatMap(_.relation.location.rootPaths)
      .flatMap(p => watermark.findFirstMatchIn(p.toString).map(_.group(1))).headOption
    out.orElse(wm).foreach(t => nanos.merge(t, durationNs, (a, b) => a + b))
    if (out.isDefined)
      bronzeFiles.addAndGet(scans.filter(_.relation.location.rootPaths.exists(_.toString.contains("/bronze/")))
        .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def drain(): (Map[String, Double], Long) = {
    val m = mutable.Map.empty[String, Double]
    nanos.keySet.forEach(k => m(k) = nanos.remove(k) / 1e9)
    (m.toMap, bronzeFiles.getAndSet(0))
  }
}

object Jvm {
  import java.lang.management.ManagementFactory
  import scala.jdk.CollectionConverters._

  def gcS: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  def heapPeakMb: Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
    .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(throw new IllegalStateException("no VmHWM"))
  }

  def flushListeners(spark: SparkSession): Unit =
    org.apache.spark.sql.graftglue.ColumnGlue.flushListenerBus(spark)
}

/** Sample statistics. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted; val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The highest percentile (in whole percent) that leaves at least
    * `beyond` samples above it, with its value; None when the samples
    * support no percentile above the median.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    val p = ((n - beyond) * 100) / math.max(n, 1)
    if (n <= beyond || p <= 50) None
    else {
      val s = xs.sorted
      Some(p -> s(math.ceil(p / 100.0 * n).toInt - 1))
    }
  }
}
