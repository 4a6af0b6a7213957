package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one run prints: the result line the caller parses, plus details
  * (per-pass walls, manifests, checks) for the run's record file. */
final case class Result(
    correct: Boolean, attempted: Int, failed: Int, metrics: Seq[Metric],
    details: Seq[(String, String)]) {

  def line: String = {
    val ms = metrics.map(m =>
      s""""${m.name}":{"value":${Json.num(m.value)},"unit":"${m.unit}"}""").mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":{$ms}}"""
  }

  /** The result line and the details as one JSON object; a detail key
    * recorded more than once gets a "#n" suffix from its second use. */
  def record: String = {
    val seen = scala.collection.mutable.Map[String, Int]()
    (("result", line) +: details).map { case (k, v) =>
      val n = seen.updateWith(k)(c => Some(c.getOrElse(0) + 1)).get
      val key = if (n == 1) k else s"$k#$n"
      s"${Json.str(key)}:$v"
    }.mkString("{\n", ",\n", "\n}\n")
  }
}

object Json {
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.math.BigDecimal.valueOf(x).toPlainString
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case c if c < 0x20 => sb.append(f"\\u${c.toInt}%04x")
      case c => sb.append(c)
    }
    sb.append('"').toString
  }
  def arr(xs: Seq[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
  def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9
}

/** Every session the harness starts: the product configuration of
  * `graft.Main` (graft's SQL extensions, Kryo, UTC) at a given core count,
  * with a fixed shuffle width so that runs at different core counts process
  * the same partitions. Spark's scratch space stays inside the work dir. */
object Sessions {
  def start(cores: Int, partitions: Int, work: File): SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(new graft.functions.expressions.GraftExtensions)
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .appName(s"perfbench-$cores")
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.default.parallelism", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** RDDs still persisted or locally checkpointed; a pass must release
    * every storage block it created, so this is 0 after one. */
  def persistedRdds(spark: SparkSession): Int = spark.sparkContext.getPersistentRDDs.size
}

/** Peak live heap: the largest heap occupancy left after any garbage
  * collection in the window (occupancy between collections only measures
  * how long the collector waited). */
final class HeapPeak extends NotificationListener {
  @volatile private var peak = 0L
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala.collect {
    case e: NotificationEmitter => e
  }
  emitters.foreach(_.addNotificationListener(this, null, null))

  override def handleNotification(n: Notification, handback: AnyRef): Unit =
    if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
      val info = com.sun.management.GarbageCollectionNotificationInfo
        .from(n.getUserData.asInstanceOf[CompositeData])
      val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
      synchronized { if (used > peak) peak = used }
    }

  def reset(): Unit = synchronized { peak = 0L }

  /** Peak in MB; falls back to current occupancy if no collection ran. */
  def mb: Double = {
    val p = synchronized(peak)
    val cur = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (if (p > 0) p else cur) / 1e6
  }

  def close(): Unit = emitters.foreach(e =>
    try e.removeNotificationListener(this) catch { case _: Exception => () })
}

object Files {
  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(delete))
    f.delete()
  }
  def bytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).map(_.map(bytes).sum).getOrElse(0L)
    else f.length
}
