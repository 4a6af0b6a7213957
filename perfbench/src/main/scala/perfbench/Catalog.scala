package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The catalog workload: `SparkEntry.queries` entries fully materialized to
  * Spark's `noop` sink, in a seed-permuted order, in one session.
  *
  * An untraced run times the heaviest queries ([[Layers.TimedQueries]]) for
  * a fixed number of rounds; a traced run times all of them. Either way,
  * every timed query is first run once in a warm-up session of its own,
  * which also computes the fingerprint of its result for the output check.
  */
object Catalog {

  /** Shuffle width, fixed whatever the core count. */
  val Partitions = 12

  /** Wall of one warm round of the timed queries at 4 cores on the
    * reference box; an untraced run times a fixed number of rounds derived
    * from it (at least two), never a time budget. */
  val NominalRoundS = 9

  def timedRounds(seconds: Int): Int = math.max(2, seconds / NominalRoundS)

  /** Rounds that open the timed session untimed: the first round in a new
    * session runs about a quarter longer than the next (it also builds the
    * session's memoized inputs, such as q63's fingerprint skim). */
  val SettleRounds = 1

  def order(seed: Long, queries: Seq[String]): Seq[String] =
    new scala.util.Random(seed).shuffle(queries.sorted)

  def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  val Tables: Seq[String] = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  /** Opens every table of the catalog (file listing, footer and schema). */
  def load(spark: SparkSession, data: String): Unit =
    Tables.foreach(t => spark.read.parquet(s"$data/$t.parquet").schema)

  private val Entry = "\"(q\\d\\d_[a-z0-9_]+)\"\\s*:\\s*\"([^\"]+)\"".r

  def readGoldens(f: File): Map[String, String] =
    if (!f.exists) Map.empty
    else Entry.findAllMatchIn(new String(java.nio.file.Files.readAllBytes(f.toPath), UTF_8))
      .map(m => m.group(1) -> m.group(2)).toMap

  /** Kernel sample: the first 256 documents by id; the title is the first
    * eight words of the text. */
  def kernelSample(spark: SparkSession, data: String): IndexedSeq[(String, String)] =
    spark.read.parquet(s"$data/documents.parquet").orderBy("doc_id").limit(256)
      .select("text").collect().map { r =>
        val text = Option(r.getString(0)).getOrElse("")
        (text, text.split("\\s+").take(8).mkString(" "))
      }.toIndexedSeq

  def run(args: Harness.Args): Result = {
    val work = args.work
    val data = args.data.getAbsolutePath
    val cores = args.cores
    val heap = new HeapPeak
    val details = ArrayBuffer[(String, String)]()
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer[String]()
    def fail(what: String): Unit = { failed += 1; failures += what; System.err.println(s"[perfbench] FAILED: $what") }
    val heavy = order(args.seed, Layers.TimedQueries)
    val timed = if (args.trace) order(args.seed, SparkEntry.queries.keys.toSeq) else heavy
    details += "order" -> timed.map(Json.str).mkString("[", ",", "]")

    // set-up, repeated: session start and opening the tables, stopped after
    val setupTimes = (1 to Harness.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      val spark = Sessions.start(cores, Partitions, work)
      try load(spark, data) finally spark.stop()
      Stats.seconds(t0)
    }
    details += "setup_s" -> Json.arr(setupTimes)

    // warm-up and output check: each timed query once, fingerprinted, in a
    // session of its own (graft memoizes some shared inputs per session)
    val goldens = readGoldens(args.goldens)
    val t0 = System.nanoTime()
    val fps = {
      val spark = Sessions.start(cores, Partitions, work)
      try timed.map { q =>
        q -> (try Fingerprint.of(SparkEntry.queries(q)(spark, data)).toString
        catch { case e: Exception => s"threw ${e.getClass.getName}: ${e.getMessage}" })
      } finally spark.stop()
    }
    details += "warmup_s" -> Json.num(Stats.seconds(t0))
    if (args.recordGoldens) {
      val all = (goldens ++ fps).toSeq.sortBy(_._1)
      val body = all.map { case (q, f) => s"  ${Json.str(q)}: ${Json.str(f)}" }.mkString("{\n", ",\n", "\n}\n")
      java.nio.file.Files.write(args.goldens.toPath, body.getBytes(UTF_8))
    }
    val mismatched = fps.filterNot { case (q, f) => goldens.get(q).contains(f) || args.recordGoldens }
    details += "fingerprints_checked" -> fps.size.toString
    details += "fingerprint_mismatches" -> Json.obj(mismatched.map { case (q, f) =>
      q -> Json.str(s"$f, golden ${goldens.getOrElse(q, "missing")}") })

    /** One round in the seed's order; the wall of each query, None where it
      * threw. A query fails when it throws or its fingerprint mismatched. */
    def round(spark: SparkSession, queries: Seq[String], trace: Option[Trace])
        : Seq[(String, Option[Double])] =
      queries.map { q =>
        attempted += 1
        if (mismatched.exists(_._1 == q)) fail(s"$q fingerprint mismatch")
        val t0 = System.nanoTime()
        try {
          trace match {
            case Some(t) => t.span(q)(materialize(SparkEntry.queries(q)(spark, data)))
            case None => materialize(SparkEntry.queries(q)(spark, data))
          }
          q -> Some(Stats.seconds(t0))
        } catch {
          case e: Exception => fail(s"$q threw ${e.getClass.getName}: ${e.getMessage}"); q -> None
        }
      }

    val roundWalls = ArrayBuffer[Double]()

    /** `settle` untimed rounds of the timed queries, then `n` timed ones,
      * each from a collected heap; returns each query's median wall over
      * the timed rounds. */
    def heavyRounds(spark: SparkSession, settle: Int, n: Int): Seq[(String, Double)] = {
      val rounds = (1 to settle + n).map { _ => System.gc(); round(spark, heavy, None).toMap }
      roundWalls ++= rounds.map(_.values.flatten.sum)
      details += "round_query_wall_s" -> rounds.map(r => Json.obj(heavy.map(q =>
        q -> r(q).map(Json.num).getOrElse("null")))).mkString("[", ",", "]")
      heavy.map(q => q -> Stats.median(rounds.drop(settle).map(_(q).getOrElse(Double.NaN))))
    }

    val spark = Sessions.start(cores, Partitions, work)
    val metrics = try {
      if (!args.trace) {
        heap.reset()
        val perQuery = heavyRounds(spark, SettleRounds, timedRounds(args.seconds))
        val peak = heap.mb
        val total = perQuery.map(_._2).sum
        details += "query_wall_s" -> Json.obj(perQuery.sortBy(_._1).map { case (q, s) => q -> Json.num(s) })
        details += "timed_total_s" -> Json.num(total)
        details += "peak_heap_mb" -> Json.num(peak)
        Seq(
          Metric("setup_s", Stats.median(setupTimes), "s"),
          Metric("throughput_per_s", heavy.size / total, "1/s"),
          Metric("quality", (fps.size - mismatched.size).toDouble / fps.size, "ratio"))
      } else {
        // settle round, traced round, untraced round: the traced round's
        // timed queries are compared with the untraced round after it (past
        // the settle round, rounds warm by about 1% each)
        (1 to SettleRounds).foreach(_ => roundWalls += round(spark, heavy, None).flatMap(_._2).sum)
        val trace = new Trace(spark.sparkContext)
        System.gc()
        val traced = round(spark, timed, Some(trace))
        val spans = trace.finish().toMap
        heap.reset()
        val untracedHeavy = heavyRounds(spark, 0, 1).map(_._2).sum
        val peak = heap.mb
        val tracedHeavy = traced.filter(q => heavy.contains(q._1)).flatMap(_._2).sum
        details += "traced_query_wall_s" -> Json.obj(traced.sortBy(_._1).map { case (q, s) =>
          q -> s.map(Json.num).getOrElse("null") })
        details += "traced_total_s" -> Json.num(traced.flatMap(_._2).sum)
        details += "timed_queries_share" -> Json.num(tracedHeavy / traced.flatMap(_._2).sum)
        val measured = traced.collect { case (q, Some(s)) => s"Queries.$q.wall_s" -> s }.toMap ++
          Layers.HeavyQueries.flatMap { q =>
            spans.get(q).toSeq.flatMap(st => Seq(
              s"Queries.$q.task_s" -> st.taskMs / 1e3, s"Queries.$q.shuffle_mb" -> st.shuffleMb))
          } ++ Kernels.measure(kernelSample(spark, data)) ++ Seq(
          "jvm.heap.peak_mb" -> peak,
          "spark.gc_s" -> spans.values.map(_.gcMs).sum / 1e3,
          "trace.overhead_s" -> (tracedHeavy - untracedHeavy))
        Layers.metrics(measured)
      }
    } finally {
      details += "round_wall_s" -> Json.arr(roundWalls.toSeq)
      details += "persisted_rdds_after_rounds" -> Sessions.persistedRdds(spark).toString
      spark.stop()
    }
    heap.close()
    details += "failures" -> failures.map(Json.str).mkString("[", ",", "]")
    Result(failed == 0, attempted, failed, metrics, details.toSeq)
  }
}
