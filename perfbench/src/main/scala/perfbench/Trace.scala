package perfbench

import scala.collection.mutable

import org.apache.spark.PerfbenchAccess
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry

/** Per-layer counters observed from outside the program: a Spark listener
  * (jobs, stages, tasks and their metrics), a query-execution listener
  * (Catalyst phase times), Spark's codegen compile-time histogram, and
  * the block manager's view of persisted and shared (pinned) RDDs.
  *
  * One `Tracer` is attached to the session for a traced operation and
  * detached afterwards; `window` brackets one operation and returns its
  * counters. Counters of an operation are read after the listener bus has
  * drained, so late events are not lost to the next operation.
  */
final class Tracer(spark: SparkSession) extends SparkListener
    with QueryExecutionListener {
  private val sc = spark.sparkContext
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val persisted = mutable.Set.empty[Int]

  private def add(k: String, v: Double): Unit = c(k) = c(k) + v

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    add("sched.jobs", 1); jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(s => jobSpans += ((s, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    add("sched.stages", 1)
    stageSubmit((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
    si.rddInfos.filter(_.storageLevel != StorageLevel.NONE).foreach(r => persisted += r.id)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    add("sched.tasks", 1)
    stageSubmit.get((e.stageId, e.stageAttemptId))
      .foreach(s => add("sched.task_wait_ms", math.max(0L, e.taskInfo.launchTime - s)))
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_s", m.executorRunTime / 1e3)
      add("exec.cpu_s", m.executorCpuTime / 1e9)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add("exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add("exec.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add("exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add("sources.input_rows", m.inputMetrics.recordsRead.toDouble)
      add("sources.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add("sources.sink_bytes", m.outputMetrics.bytesWritten.toDouble)
      c("exec.peak_exec_mem_mb") =
        math.max(c("exec.peak_exec_mem_mb"), m.peakExecutionMemory / 1048576.0)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      add("plans.analysis_ms", ms("analysis"))
      add("plans.optimizer_ms", ms("optimization"))
      add("plans.physical_ms", ms("planning"))
    }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Spark keeps compile times in a sampling histogram, not a sum; the
    * window's share is (compilations in the window) x (mean compile time). */
  private def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  private def storage(shared: Boolean): (Int, Double) = {
    val infos = sc.getRDDStorageInfo.filter(r => SparkEntry.isSharedRdd(r.id) == shared)
    (infos.length, infos.map(r => (r.memSize + r.diskSize).toDouble).sum)
  }

  def attach(): Unit = {
    sc.addSparkListener(this); spark.listenerManager.register(this)
  }
  def detach(): Unit = {
    PerfbenchAccess.drainListeners(sc)
    sc.removeSparkListener(this); spark.listenerManager.unregister(this)
  }

  /** Run `body` as one traced operation; returns its result, its wall time
    * in seconds and the counters of the window. `body` may call `step`
    * for each sub-step so that materialization and shared-frame use are
    * attributed per step. */
  def window[T](body: => T): (T, Double, Map[String, Double]) = {
    PerfbenchAccess.drainListeners(sc)
    synchronized { c.clear(); jobSpans.clear(); persisted.clear() }
    val (cgN0, _) = codegen
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wall = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    PerfbenchAccess.drainListeners(sc)
    val (cgN1, cgMean) = codegen
    val (pinnedN, pinnedB) = storage(shared = true)
    val m = synchronized {
      // wall time in which no job of this operation was running
      val spans = jobSpans.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
        .filter { case (s, e) => e > s }.sortBy(_._1)
      var covered = 0L; var end = t0
      spans.foreach { case (s, e) =>
        if (e > end) { covered += e - math.max(s, end); end = e }
      }
      c("sched.driver_gap_ms") = math.max(0.0, (t1 - t0 - covered).toDouble)
      c("plans.codegen_ms") = (cgN1 - cgN0) * cgMean
      c("exec.busy_frac") = c("exec.task_s") / (wall * sc.defaultParallelism)
      c("mat.persisted_rdds") = persisted.count(id => !SparkEntry.isSharedRdd(id)).toDouble
      c("shared.pinned_rdds") = pinnedN.toDouble
      c("shared.pinned_bytes") = pinnedB
      c.toMap
    }
    (out, wall, m)
  }

  /** One sub-step of a traced operation: records whether it built pinned
    * frames (shared build) or only read them (shared reuse), and the
    * non-shared persisted blocks it left behind before they are swept. */
  def step[T](usesShared: Boolean)(body: => T): T = {
    val before = sc.getPersistentRDDs.keySet.filter(SparkEntry.isSharedRdd)
    val n0 = System.nanoTime()
    val out = body
    val dt = (System.nanoTime() - n0) / 1e9
    val after = sc.getPersistentRDDs.keySet.filter(SparkEntry.isSharedRdd)
    val (leftN, leftB) = storage(shared = false)
    synchronized {
      if (after.exists(id => !before.contains(id))) add("shared.build_s", dt)
      else if (usesShared) add("shared.reuse_s", dt)
      add("mat.left_after_op", leftN)
      add("mat.persisted_bytes", leftB)
    }
    out
  }
}
