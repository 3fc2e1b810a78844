package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ReusedExchangeExec, ShuffleExchangeExec}

/** Scheduler counters for one span kind ("entry", "exec", "stream"). */
final class ExecCounters {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleRead, shuffleWrite, spill = 0L
  var skewMax = 0.0
}

/** Reads Spark's public counters while the traced run executes: jobs,
  * stages and task metrics from a SparkListener, attributed to the span
  * kind named in the `perfbench.span` local property of the thread that
  * submitted the job (stream threads inherit it from the thread that
  * started the query). Counts only while `on`. */
final class Layers(sc: SparkContext) extends SparkListener {
  @volatile var on = false
  private val byKind = mutable.Map.empty[String, ExecCounters]
  private val stageKind = mutable.Map.empty[Int, String]
  private val stageTaskMs = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  sc.addSparkListener(this)

  private def counters(kind: String) = byKind.getOrElseUpdate(kind, new ExecCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (on) {
      val kind = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Layers.SpanKey))).getOrElse("other")
      counters(kind).jobs += 1
      e.stageInfos.foreach(s => stageKind(s.stageId) = kind)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageKind.get(e.stageId).foreach { kind =>
      val m = e.taskMetrics
      if (m != null) {
        val c = counters(kind)
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
          m.executorRunTime
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageKind.get(id).foreach { kind =>
      val c = counters(kind)
      c.stages += 1
      stageTaskMs.get(id).filter(_.length >= 4).foreach { ts =>
        val med = Stats.median(ts.map(_.toDouble).toSeq)
        if (med > 0) c.skewMax = math.max(c.skewMax, ts.max / med)
      }
    }
    stageKind.remove(id)
    stageTaskMs.remove(id)
  }

  /** Counters since the last call, after all posted events arrived. */
  def take(): Map[String, ExecCounters] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = byKind.toMap
      byKind.clear()
      out
    }
  }
}

object Layers {
  val SpanKey = "perfbench.span"

  /** Janino compiles so far and their summed time (seconds); the time
    * is the compile-time histogram's mean times its count. */
  def codegen(): (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1000.0)
  }

  /** CPU time this process has used, all threads. */
  def cpuSeconds(): Double = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  /** Heap in use right after the last collection, summed over pools. */
  def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  final case class PlanCounts(exchanges: Int, reused: Int, broadcasts: Int,
      scans: Int)
  val NoPlan: PlanCounts = PlanCounts(0, 0, 0, 0)

  /** Counts in the final (post-AQE) physical plan, subqueries included. */
  def planCounts(plan: SparkPlan): PlanCounts = {
    var ex, reused, bc, scans = 0
    def walk(p: SparkPlan): Unit = {
      p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case s: QueryStageExec => walk(s.plan)
        case _: ReusedExchangeExec => reused += 1
        case _ =>
          p match {
            case _: ShuffleExchangeExec => ex += 1
            case _: BroadcastExchangeExec => bc += 1
            case _: FileSourceScanExec | _: BatchScanExec |
                 _: InMemoryTableScanExec => scans += 1
            case _ =>
          }
          p.subqueries.foreach(walk)
          p.children.foreach(walk)
      }
    }
    walk(plan)
    PlanCounts(ex, reused, bc, scans)
  }
}
