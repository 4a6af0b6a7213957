package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

import graft.SparkEntry
import graft.pipeline.EntityResolution
import graft.util.{Sessions, TaskClock}

/** The diagnostic main: timed passes with the executor-time split of the
  * last one, and formatted physical plans.
  *
  *   runMain graft.tools.Probe time er <cores> <nClusters> [passes] [partitions]
  *     the in-memory ER pass (`EntityResolution.runOnTable`, the pass
  *     graft.Bench's ER section times) over a generated corpus of
  *     `nClusters` clusters, written once outside the timed region, at
  *     local[cores] with `partitions` (default: cores) partitions, then
  *     one untimed pass prints its `EntityResolution.quality`;
  *   runMain graft.tools.Probe time <q,...|all> [passes] [sfDir]
  *     each catalog query computed into the noop sink — every column of
  *     every row, without a sink's cost or a count-pruned subtree;
  *   runMain graft.tools.Probe plan <q,...|all> [sfDir] [outDir]
  *     `explain("formatted")` to stdout, or one `<query>.txt` per query
  *     written into `outDir`.
  *
  * `time` prints every pass wall, the min and the median (3 passes by
  * default), then from the last pass: executor task time, GC time, the job
  * count, the gap between jobs (wall minus summed job walls), and the call
  * sites and jobs with the most task and wall time. The query forms run at
  * local[SPARK_GRAFT_CPUS] with 3x as many shuffle partitions over
  * SPARK_GRAFT_SF_DIR, as graft.Bench's catalog section does.
  */
object Probe {

  def main(args: Array[String]): Unit = {
    val (cores, partitions) = args.toList match {
      case "time" :: "er" :: c :: _ :: rest => (c.toInt, rest.lift(1).fold(c.toInt)(_.toInt))
      case _                                => (Sessions.cpus, 3 * Sessions.cpus)
    }
    val spark = Sessions.create(s"local[$cores]", partitions)
    try run(spark, args)
    finally spark.stop()
  }

  /** Run one probe on `spark`, leaving the session running. */
  def run(spark: SparkSession, args: Array[String]): Unit = args.toList match {
    case "time" :: "er" :: cores :: nClusters :: rest =>
      import spark.implicits._
      val corpus = graft.util.Scratch.unique("probe_corpus") + "/webpages"
      graft.sources.WebPagesGen.webpages(spark, nClusters.toLong)
        .repartition(48).write.mode("overwrite").parquet(corpus)
      time(spark, s"er cores=$cores", passes(rest)) {
        val (docs, _) = EntityResolution.runOnTable(spark, corpus)
        s"docs=$docs"
      }
      val truth = graft.sources.WebPagesGen.truth(spark, nClusters.toLong)
      val q = EntityResolution.run(spark, spark.read.parquet(corpus).as[graft.model.WebPage],
        EntityResolution.InMemory)(EntityResolution.quality(_, truth))
      println(f"[probe] er quality: f1=${q.f1}%.6f partitionErrors=${q.partitionErrors} " +
        s"largestCluster=${q.largestCluster} missing=${q.missing} extra=${q.extra}")

    case "time" :: qs :: rest =>
      val dir = rest.lift(1).getOrElse(Sessions.sfDir)
      val mins = queries(qs).map { name =>
        time(spark, name, passes(rest)) {
          SparkEntry.queries(name)(spark, dir).write.format("noop").mode("overwrite").save()
          ""
        }
      }
      if (mins.size > 1)
        println(f"[probe] TOTAL(min) ${mins.sum}%.3f s over ${mins.size} queries")

    case "plan" :: qs :: rest =>
      val dir = rest.headOption.getOrElse(Sessions.sfDir)
      val outDir = rest.lift(1)
      outDir.foreach(d => Files.createDirectories(Paths.get(d)))
      queries(qs).foreach { name =>
        val plan = SparkEntry.queries(name)(spark, dir).queryExecution.explainString(FormattedMode)
        outDir match {
          case Some(d) =>
            Files.writeString(Paths.get(d, s"$name.txt"), plan)
            println(s"[probe] wrote $d/$name.txt")
          case None => println(s"\n========== $name ==========\n$plan")
        }
      }

    case _ =>
      throw new IllegalArgumentException(
        "usage: graft.tools.Probe time er <cores> <nClusters> [passes] [partitions]" +
          " | time <q,...|all> [passes] [sfDir] | plan <q,...|all> [sfDir] [outDir]")
  }

  private def passes(rest: List[String]): Int = rest.headOption.fold(3)(_.toInt)

  private def queries(spec: String): Seq[String] = {
    val names =
      if (spec == "all") SparkEntry.queries.keys.toSeq.sorted else spec.split(",").toSeq
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    names
  }

  /** Time `passes` runs of `pass` (which returns a detail for its line) and
    * print the split of the last one; returns the min wall. The clock is
    * drained and reset before the last pass, so no event of an earlier pass
    * lands in the split. */
  private def time(spark: SparkSession, label: String, passes: Int)(pass: => String): Double = {
    val clock = new TaskClock(spark.sparkContext)
    try {
      val walls = (1 to passes).map { i =>
        if (i == passes) { clock.drainedSeconds(); clock.reset() }
        val t0 = System.nanoTime()
        val detail = pass
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"[probe] $label pass=$i wall=$wall%.3f $detail")
        wall
      }
      val sorted = walls.sorted
      val median = (sorted((passes - 1) / 2) + sorted(passes / 2)) / 2
      println(f"[probe] $label min=${sorted.head}%.3f median=$median%.3f")
      val task = clock.drainedSeconds()
      val jobs = clock.jobs
      val jobWall = jobs.map(_.wallSeconds).sum
      println(f"[probe] $label split: taskSum=$task%.2f gcSum=${clock.gcSeconds}%.2f " +
        f"jobs=${jobs.size} jobWall=$jobWall%.2f interJobGap=${walls.last - jobWall}%.2f")
      clock.sites.take(12).foreach { case (site, s) =>
        println(f"[probe] $label site $s%8.2f s  $site")
      }
      jobs.sortBy(-_.wallSeconds).take(8).foreach { j =>
        println(f"[probe] $label job=${j.id}%d wall=${j.wallSeconds}%.2f " +
          f"taskSum=${j.taskSeconds}%.2f  ${j.sites}")
      }
      sorted.head
    } finally clock.close()
  }
}
