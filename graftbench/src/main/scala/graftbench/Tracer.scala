package graftbench

import graft.core.SharedFrames
import org.apache.spark.GraftbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer counters for the traced run, measured from outside the
  * engine: a SparkListener for jobs, stages and tasks, and a
  * QueryExecutionListener for the Catalyst phases and cached-relation
  * scans of the QueryExecution each action actually ran. The runner
  * brackets every operation with [[beginOp]]/[[endOp]]; the bus is
  * drained at [[endOp]], so events land on the operation that caused
  * them.
  */
final class Tracer(spark: SparkSession, cores: Int) extends SparkListener
    with QueryExecutionListener {
  private val sums = mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit = synchronized { sums(k) = sums.getOrElse(k, 0.0) + v }
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  // cached relations by identity: the serial of the op that first scanned them
  private val firstScan = new java.util.IdentityHashMap[AnyRef, Integer]()
  private var serial = 0
  private var opStartMs = 0L
  private var liveBefore = Set.empty[String]
  private var storagePeakMb = 0.0

  private def listeners = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    listeners.register(this)
  }

  def detach(): Unit = {
    GraftbenchBus.drain(spark.sparkContext)
    listeners.unregister(this)
    spark.sparkContext.removeSparkListener(this)
  }

  def beginOp(): Unit = {
    serial += 1
    liveBefore = SharedFrames.diagnostics._3.toSet
    synchronized(jobSpans.clear())
    opStartMs = System.currentTimeMillis()
  }

  def endOp(): Unit = {
    val end = System.currentTimeMillis()
    GraftbenchBus.drain(spark.sparkContext)
    // union of the job intervals inside the op = time a job was running
    val busy = synchronized {
      jobSpans.map { case (a, b) => (math.max(a, opStartMs), math.min(b, end)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((acc, last), (a, b)) =>
          val s = math.max(a, last)
          (acc + math.max(0L, b - s), math.max(last, b))
        }._1
    }
    add("driver.nojob_ms", math.max(0L, end - opStartMs - busy).toDouble)
    add("core.shared.built", (SharedFrames.diagnostics._3.toSet -- liveBefore).size.toDouble)
    val mb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    storagePeakMb = math.max(storagePeakMb, mb)
  }

  def endPass(): Unit = add("core.shared.rebuilds", SharedFrames.diagnostics._1.toDouble)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("scheduler.jobs", 1)
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("scheduler.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("scheduler.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      // the Spark UI's scheduler delay: task wall time not spent running,
      // deserializing, serializing or fetching the result
      add("scheduler.delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime).toDouble)
      add("exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add("exec.task_run_ms", m.executorRunTime.toDouble)
      add("exec.gc_ms", m.jvmGCTime.toDouble)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("shuffle.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("scan.bytes_read", m.inputMetrics.bytesRead.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { p =>
      add(s"catalyst.${p}_ms", phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0))
    }
    val op = serial
    val scanned = mutable.Set.empty[Int]
    cachedScans(qe.executedPlan).foreach { b =>
      val first = synchronized(firstScan.putIfAbsent(b, op))
      if (first != null && first != op && scanned.add(System.identityHashCode(b)))
        add("core.shared.reused", 1)
    }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def cachedScans(p: SparkPlan): Seq[AnyRef] = p match {
    case a: AdaptiveSparkPlanExec => cachedScans(a.executedPlan)
    case q: QueryStageExec => cachedScans(q.plan)
    case s: InMemoryTableScanExec => Seq(s.relation.cacheBuilder)
    case o => (o.children ++ o.subqueries).flatMap(cachedScans)
  }

  /** Every counter per traced pass, plus the ratios. */
  def totals(passes: Int, wallMs: Double): Map[String, Double] = synchronized {
    val per = sums.map { case (k, v) => k -> v / passes }.toMap
    val built = per.getOrElse("core.shared.built", 0.0)
    val reused = per.getOrElse("core.shared.reused", 0.0)
    per ++ Map(
      "core.shared.hit_ratio" -> (if (built + reused > 0) reused / (built + reused) else 0.0),
      "core.storage_peak_mb" -> storagePeakMb,
      "exec.cpu_util" -> sums.getOrElse("exec.task_cpu_ms", 0.0) / (wallMs * cores))
  }
}
