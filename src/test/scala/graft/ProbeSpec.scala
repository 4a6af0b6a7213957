package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

/** The probe's three forms on the shared session, which `run` leaves open. */
class ProbeSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private val dir = "/root/testdata/sf0.001"

  private def probe(args: String*): Seq[String] = {
    val out = new ByteArrayOutputStream
    Console.withOut(out)(Probe.run(spark, args.toArray))
    out.toString("UTF-8").linesIterator.toSeq
  }

  test("time er: one pass line with documents, no persisted RDD left behind") {
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val lines = probe("time", "er", "4", "50", "1")
    val docs = lines.flatMap(l => raw"pass=\d+ wall=\S+ docs=(\d+)".r.findFirstMatchIn(l))
    assert(docs.size == 1, lines.mkString("\n"))
    assert(docs.head.group(1).toLong > 0)
    assert(lines.exists(_.contains(" min=")))
    assert(lines.exists(l => l.startsWith("[probe] er quality: f1=") &&
      l.contains(" missing=0 extra=0")), lines.mkString("\n"))
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty)
    assert(!spark.sparkContext.isStopped)
  }

  test("time <query>: min line and call-site lines") {
    val lines = probe("time", "q01_group_agg", "1", dir)
    assert(lines.exists(_.startsWith("[probe] q01_group_agg min=")), lines.mkString("\n"))
    assert(lines.exists(_.startsWith("[probe] q01_group_agg site ")), lines.mkString("\n"))
    assert(!spark.sparkContext.isStopped)
  }

  test("plan: one file per named query") {
    val out = Files.createTempDirectory("probe-plan-")
    probe("plan", "q01_group_agg,q29_er_clusters", dir, out.toString)
    val written = Files.list(out).iterator().asScala.map(_.getFileName.toString).toSet
    assert(written == Set("q01_group_agg.txt", "q29_er_clusters.txt"))
    assert(Files.readString(out.resolve("q01_group_agg.txt")).contains("Physical Plan"))
  }
}
