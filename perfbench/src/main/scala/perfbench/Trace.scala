package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans around the harness's calls into each layer, plus a listener that
  * attributes every Spark task to the span whose job launched it.
  *
  * A span sets the `perfbench.span` local property (and the job
  * description) for its duration; jobs inherit it, so each stage's task
  * metrics land on the span that caused them. Spans are flat: the harness
  * opens one at a time.
  */
final class Trace(sc: SparkContext) extends SparkListener {

  final class SpanStats {
    var wallS = 0.0
    var jobs = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleReadBytes = 0L
    var shuffleWriteBytes = 0L
    val taskDurations = mutable.ArrayBuffer[Long]()

    def maxTaskS: Double = if (taskDurations.isEmpty) 0.0 else taskDurations.max / 1e3
    def p50TaskS: Double =
      if (taskDurations.isEmpty) 0.0 else taskDurations.sorted.apply(taskDurations.size / 2) / 1e3
    /** Slowest task over the median task; 1.0 for a perfectly even stage. */
    def skew: Double = if (p50TaskS <= 0) 1.0 else maxTaskS / p50TaskS
    def shuffleMb: Double = (shuffleReadBytes + shuffleWriteBytes) / 1e6
  }

  private val Key = "perfbench.span"
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val stats = mutable.LinkedHashMap[String, SpanStats]()
  private def statsOf(span: String): SpanStats = stats.synchronized(stats.getOrElseUpdate(span, new SpanStats))

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
    span.foreach { s =>
      e.stageIds.foreach(id => stageSpan.put(id, s))
      val st = statsOf(s)
      st.synchronized(st.jobs += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val st = statsOf(span)
      st.synchronized {
        st.taskMs += m.executorRunTime
        st.gcMs += m.jvmGCTime
        st.taskDurations += m.executorRunTime
        st.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        st.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  sc.addSparkListener(this)

  def span[T](name: String)(body: => T): T = {
    sc.setLocalProperty(Key, name)
    sc.setJobDescription(name)
    val t0 = System.nanoTime()
    try body
    finally {
      val st = statsOf(name)
      st.synchronized(st.wallS += (System.nanoTime() - t0) / 1e9)
      sc.setLocalProperty(Key, null)
      sc.setJobDescription(null)
    }
  }

  /** Waits for every queued event, detaches, and returns the spans in the
    * order they were first opened. */
  def finish(): Seq[(String, SpanStats)] = {
    org.apache.spark.ListenerBusDrain(sc)
    sc.removeSparkListener(this)
    stats.synchronized(stats.toSeq)
  }
}
