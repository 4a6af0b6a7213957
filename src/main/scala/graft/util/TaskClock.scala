package graft.util

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.LongAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Sum of executor task runtime across a thunk — the CPU cost of a
  * computation, beside its wall time. taskSum_low vs taskSum_high/1
  * separates ENGINE scaling loss (idle cores, serial floor: shows up in
  * wall but not taskSum) from SILICON loss (per-thread slowdown when cores
  * share one memory system: shows up in taskSum itself).
  *
  * Beside the total it keeps the Amdahl split of a wall: GC time, the job
  * count, the summed per-job walls (wall minus that sum is the driver-side
  * gap between jobs), and task time per call site and per job — the jobs
  * whose wall does not shrink with cores are the serial floor. Read it
  * after [[drainedSeconds]]; [[reset]] starts a new window. */
final class TaskClock(sc: SparkContext) extends SparkListener {
  private val sum = new LongAdder
  private val gc = new LongAdder
  private val jobStarts = new ConcurrentHashMap[Int, Long]()
  private val jobStages = new ConcurrentHashMap[Int, Seq[Int]]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageSite = new ConcurrentHashMap[Int, String]()
  private val siteTask = new ConcurrentHashMap[String, LongAdder]()
  private val jobTask = new ConcurrentHashMap[Int, LongAdder]()
  private val finished = new ConcurrentLinkedQueue[TaskClock.Job]()
  sc.addSparkListener(this)

  override def onStageSubmitted(st: SparkListenerStageSubmitted): Unit = {
    // the first graft frame outside the probe itself names the stage
    val site = st.stageInfo.details.linesIterator
      .find(l => l.contains("graft") && !l.contains("tools"))
      .getOrElse(st.stageInfo.name).trim
    stageSite.put(st.stageInfo.stageId, site); ()
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (t.taskMetrics != null) {
      val ms = t.taskMetrics.executorRunTime
      sum.add(ms)
      gc.add(t.taskMetrics.jvmGCTime)
      siteTask.computeIfAbsent(
        stageSite.getOrDefault(t.stageId, s"stage-${t.stageId}"), _ => new LongAdder).add(ms)
      val jid = stageJob.getOrDefault(t.stageId, -1)
      if (jid >= 0) jobTask.computeIfAbsent(jid, _ => new LongAdder).add(ms)
    }

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobStarts.put(j.jobId, j.time)
    jobStages.put(j.jobId, j.stageIds)
    j.stageIds.foreach(sid => stageJob.put(sid, j.jobId))
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val start = jobStarts.remove(j.jobId) // unboxes a missing entry to 0
    if (start != 0L) {
      val sites = jobStages.getOrDefault(j.jobId, Seq.empty)
        .flatMap(sid => Option(stageSite.get(sid))).distinct.mkString(" | ")
      val task = Option(jobTask.get(j.jobId)).map(_.sum()).getOrElse(0L)
      finished.add(TaskClock.Job(j.jobId, (j.time - start) / 1e3, task / 1e3, sites)); ()
    }
  }

  /** Deterministic listener-bus drain (ADVICE r03: a fixed 300 ms sleep
    * raced queued async task-end events under load): poll until the sum
    * is unchanged across two consecutive 100 ms windows (ADVICE r04: the
    * old loop exited after ONE stable window while the doc claimed two),
    * bounded at 3 s. The final value feeds the per_thread_inflation /
    * efficiency_engine decomposition, so undercounting here skews a
    * published headline metric. */
  def drainedSeconds(): Double = {
    val deadline = System.nanoTime() + 3L * 1000 * 1000 * 1000
    var prev = sum.sum()
    var stableWindows = 0
    while (stableWindows < 2 && System.nanoTime() < deadline) {
      Thread.sleep(100)
      val cur = sum.sum()
      if (cur == prev) stableWindows += 1 else stableWindows = 0
      prev = cur
    }
    prev / 1e3
  }

  def gcSeconds: Double = gc.sum() / 1e3

  /** Task seconds per call site, largest first. */
  def sites: Seq[(String, Double)] =
    siteTask.asScala.toSeq.map { case (k, v) => (k, v.sum() / 1e3) }.sortBy(-_._2)

  /** Every job finished in this window, in completion order. */
  def jobs: Seq[TaskClock.Job] = finished.asScala.toSeq

  def reset(): Unit = {
    sum.reset(); gc.reset()
    siteTask.clear(); jobTask.clear(); finished.clear()
  }

  def close(): Unit = sc.removeSparkListener(this)
}

object TaskClock {
  final case class Job(id: Int, wallSeconds: Double, taskSeconds: Double, sites: String)
}
