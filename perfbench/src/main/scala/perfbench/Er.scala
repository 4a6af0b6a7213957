package perfbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.{Edge, WebPage}
import graft.operators.{Blocking, ConnectedComponents, PairScoring}
import graft.pipeline.EntityResolution
import graft.sources.{SnapshotStore, WebPagesGen}

/** The ER workloads: `EntityResolution.resolve` into a fresh SnapshotStore
  * per pass, over a corpus materialized once per run from a seed-chosen
  * cluster-id window of the planted-duplicate generator. */
object Er {

  /** Clusters in the window: about 11,000 documents under the generator's
    * natural size law (1-6 variants, Zipf-hot domains). */
  val Clusters = 6000L

  /** Corpus files = shuffle width: both core counts scan the same splits. */
  val Partitions = 8

  /** Passes that open a session untimed: the first pass in a new session
    * runs about 1.5 times as long as the next, even after a warm-up pass in
    * an earlier session. */
  val SettlePasses = 1

  /** Wall of one warm pass at 4 cores on the reference box; an untraced run
    * times a fixed, odd number of passes derived from it (at least three),
    * never a time budget, so its median is always over the same number of
    * warm passes. */
  val NominalPassS = 5.0

  def timedPasses(seconds: Int): Int = {
    val n = math.max(3, math.ceil(seconds / NominalPassS).toInt)
    if (n % 2 == 0) n + 1 else n
  }

  /** First cluster id of the seed's window: [seed·10^7, seed·10^7 + n). */
  def windowStart(seed: Long): Long = Math.floorMod(seed, 900000000L) * 10000000L

  def pages(spark: SparkSession, start: Long): Dataset[WebPage] = {
    import spark.implicits._
    spark.range(start, start + Clusters, 1, Partitions)
      .flatMap(c => (0 until WebPagesGen.clusterSize(c)).map(v => WebPagesGen.genPage(c, v).page))
  }

  /** url -> planted cluster of every generated url. */
  def truth(start: Long): Map[String, Long] =
    (start until start + Clusters).iterator.flatMap { c =>
      (0 until WebPagesGen.clusterSize(c)).map(v => WebPagesGen.urlOf(c, v) -> c)
    }.toMap

  def truthFrame(spark: SparkSession, truth: Map[String, Long]): DataFrame = {
    import spark.implicits._
    truth.toSeq.toDF("url", "truth")
  }

  private val RowsField = "\"rows\":(\\d+)".r
  private val ElapsedField = "\"elapsedMs\":(\\d+)".r

  /** (rows, elapsedMs) of a committed stage, from its manifest. */
  def manifest(store: SnapshotStore, stage: String): (Long, Long) = {
    val m = store.manifest(stage).getOrElse(sys.error(s"stage $stage not committed"))
    (RowsField.findFirstMatchIn(m).get.group(1).toLong,
      ElapsedField.findFirstMatchIn(m).get.group(1).toLong)
  }

  /** One timed pass; returns (docs clustered, seconds). */
  def pass(spark: SparkSession, corpus: Seq[String], store: SnapshotStore): (Long, Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    EntityResolution.resolve(spark, store, spark.read.parquet(corpus: _*).as[WebPage])
    val sec = Stats.seconds(t0)
    (manifest(store, "clusters")._1, sec)
  }

  final case class Check(report: Quality.Report, missing: Long, extra: Long, duplicated: Long) {
    /** The output is a valid partition of the input urls and meets the
      * project's quality target (pairwise F1 >= 0.99). */
    def ok: Boolean = missing == 0 && extra == 0 && duplicated == 0 && report.f1 >= 0.99
    def json: String = Json.obj(Seq(
      "f1" -> Json.num(report.f1), "tp" -> report.tp.toString, "fp" -> report.fp.toString,
      "fn" -> report.fn.toString, "true_clusters" -> report.trueClusters.toString,
      "partition_errors" -> report.partitionErrors.toString,
      "largest_predicted" -> report.largestPredicted.toString,
      "missing" -> missing.toString, "extra" -> extra.toString, "duplicated" -> duplicated.toString))
  }

  /** Output check against generator truth (a url missing from the output
    * becomes a singleton of its own, so its pairs count as fn). */
  def check(clusters: DataFrame, truth: Map[String, Long]): Check = {
    val pred = clusters.select(col("url"), col("cluster")).collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val predOf = pred.toMap
    val cells = truth.toSeq
      .groupMapReduce { case (url, t) => (t, predOf.get(url).map(_.toString).getOrElse("missing:" + url)) }(_ => 1L)(_ + _)
    val predIds = cells.keys.map(_._2).toSeq.distinct.zipWithIndex.toMap
    val report = Quality.report(cells.toSeq.map { case ((t, p), n) => (t, predIds(p).toLong, n) })
    Check(report,
      missing = truth.keysIterator.count(u => !predOf.contains(u)).toLong,
      extra = predOf.keysIterator.count(u => !truth.contains(u)).toLong,
      duplicated = (pred.length - predOf.size).toLong)
  }

  /** The stage chain of `resolve`, called stage by stage inside spans. */
  def tracedPass(spark: SparkSession, corpus: Seq[String], store: SnapshotStore, trace: Trace)
      : (DataFrame, Map[String, Double]) = {
    import spark.implicits._
    val pages = spark.read.parquet(corpus: _*).as[WebPage]
    val extracted = trace.span("pipeline.EntityResolution.extract")(
      store.getOrCreate("extracted")(EntityResolution.extract(spark, pages).toDF()))
      .as[Blocking.ExtractedDoc]
    var truncated = 0L
    val feats = trace.span("operators.Blocking.features")(
      store.getOrCreate("features")(
        Blocking.features(spark, extracted, onTruncation = n => truncated = n).toDF()))
      .as[Blocking.DocFeatures]
    val blocks = trace.span("operators.Blocking.blockEntries")(
      store.getOrCreate("blocks")(Blocking.blockEntries(spark, feats).toDF()))
      .as[Blocking.BlockEntry]
    var gen: Option[Blocking.CandidatePairGen] = None
    val (pairs, hot) = trace.span("operators.Blocking.candidatePairs") {
      try {
        val committed = store.getOrCreate("pairs") {
          val g = Blocking.candidatePairs(spark, blocks)
          gen = Some(g)
          g.pairs.toDF()
        }.as[Blocking.CandidatePair]
        (committed, gen.map(_.hotBlocks()).getOrElse(0L))
      } finally gen.foreach(_.release())
    }
    val scored = trace.span("operators.PairScoring.score")(
      store.getOrCreate("scored")(PairScoring.score(spark, pairs, feats).toDF()))
    val edges = scored.where(col("isDuplicate")).select(col("src"), col("dst")).as[Edge]
    var release: () => Unit = () => ()
    val clusters = trace.span("operators.ConnectedComponents.assignManaged") {
      try store.getOrCreate("clusters") {
        val (assigned, rel) = ConnectedComponents.assignManaged(
          spark, edges, feats.select(col("id")), dedupEdges = false)
        release = rel
        feats.select(col("id"), col("url")).join(assigned, "id")
          .select(col("url"), col("id"), col("comp").as("cluster"))
      } finally release()
    }
    (clusters, Map(
      "operators.Blocking.features.idf_truncated" -> truncated.toDouble,
      "operators.Blocking.candidatePairs.hot_blocks" -> hot.toDouble))
  }

  /** Domain counters of a traced pass, computed after it from its snapshots. */
  def counters(spark: SparkSession, store: SnapshotStore, root: File, truth: DataFrame)
      : Map[String, Double] = {
    val pairs = store.read("pairs")
    val edges = store.read("scored").where(col("isDuplicate")).count()
    val ids = store.read("features").select(col("id"), col("url")).join(truth, "url")
    val truePairs = truth.groupBy("truth").count()
      .select(sum(col("count") * (col("count") - 1) / 2)).head().get(0) match {
      case null => 0.0
      case x => x.toString.toDouble
    }
    val found = pairs
      .join(ids.select(col("id").as("src"), col("truth").as("ts")), "src")
      .join(ids.select(col("id").as("dst"), col("truth").as("td")), "dst")
      .where(col("ts") === col("td")).count()
    val largest = store.read("clusters").groupBy("cluster").count()
      .agg(max(col("count"))).head().getLong(0)
    val nPairs = manifest(store, "pairs")._1
    Map(
      "operators.Blocking.candidatePairs.pair_quality" -> (if (nPairs == 0) 1.0 else edges.toDouble / nPairs),
      "operators.Blocking.candidatePairs.pair_completeness" -> (if (truePairs == 0) 1.0 else found / truePairs),
      "operators.ConnectedComponents.assignManaged.largest_component" -> largest.toDouble) ++
      Layers.SnapshotStages.map(s =>
        s"sources.SnapshotStore.$s.bytes" -> Files.bytes(new File(root, s"$s/data")).toDouble)
  }

  /** Clusters of two passes that disagree on some url. */
  def mismatches(a: DataFrame, b: DataFrame): Long =
    a.select(col("url"), col("cluster").as("ca"))
      .join(b.select(col("url"), col("cluster").as("cb")), Seq("url"), "full_outer")
      .where(col("ca").isNull || col("cb").isNull || col("ca") =!= col("cb"))
      .count()

  /** Kernel sample: the first 256 documents of the window, in id order. */
  def kernelSample(start: Long): IndexedSeq[(String, String)] =
    Iterator.iterate(start)(_ + 1)
      .flatMap(c => (0 until WebPagesGen.clusterSize(c)).map(v => WebPagesGen.genPage(c, v).page))
      .take(256)
      .map { p =>
        val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
        (html, graft.functions.HtmlExtract.extractTitle(html))
      }.toIndexedSeq

  def run(args: Harness.Args): Result = {
    val work = args.work
    val start = windowStart(args.seed)
    val cores = args.cores
    val heap = new HeapPeak
    val details = ArrayBuffer[(String, String)]()
    var attempted = 0
    var failed = 0
    val failures = ArrayBuffer[String]()
    def fail(what: String): Unit = { failed += 1; failures += what; System.err.println(s"[perfbench] FAILED: $what") }

    // set-up, repeated: session start, corpus generation and write, stop
    val corpusDir = new File(work, "corpus")
    val setupTimes = (1 to Harness.SetupReps).map { _ =>
      val t0 = System.nanoTime()
      Files.delete(corpusDir)
      val spark = Sessions.start(cores, Partitions, work)
      try pages(spark, start).write.parquet(corpusDir.getPath) finally spark.stop()
      Stats.seconds(t0)
    }
    details += "setup_s" -> Json.arr(setupTimes)
    val corpus = Seq(corpusDir.getPath)
    val truthMap = truth(start)

    var storeSeq = 0
    def freshStore(spark: SparkSession): (SnapshotStore, File) = {
      storeSeq += 1
      val dir = new File(work, s"store-$storeSeq")
      Files.delete(dir)
      (new SnapshotStore(spark, dir.getPath), dir)
    }

    // JIT warm-up: one untimed pass in a session of its own, stopped after
    val warmup = {
      val spark = Sessions.start(cores, Partitions, work)
      try {
        val (store, dir) = freshStore(spark)
        val sec = pass(spark, corpus, store)._2
        Files.delete(dir)
        sec
      } finally spark.stop()
    }
    details += "warmup_pass_s" -> Json.num(warmup)

    val peaks = ArrayBuffer[Double]()
    val f1s = ArrayBuffer[Double]()
    var partitionErrors = 0L

    /** `settle` untimed passes, then `passes` timed ones, each from a
      * collected heap; each is checked against truth, and its manifests and
      * storage read, after the clock stops. Returns (docs/s, wall) of each
      * timed pass and the last pass's store when asked to keep it. */
    def level(spark: SparkSession, settle: Int, passes: Int, keepLast: Boolean)
        : (Seq[Double], Seq[Double], Option[File]) = {
      val rates = ArrayBuffer[Double]()
      val walls = ArrayBuffer[Double]()
      val settleWalls = ArrayBuffer[Double]()
      val checks = ArrayBuffer[String]()
      val manifests = ArrayBuffer[String]()
      var last: Option[File] = None
      (1 to settle + passes).foreach { i =>
        val timed = i > settle
        val (store, dir) = freshStore(spark)
        attempted += 1
        try {
          System.gc()
          heap.reset()
          val (docs, sec) = pass(spark, corpus, store)
          if (timed) {
            peaks += heap.mb
            rates += docs / sec
            walls += sec
          } else settleWalls += sec
          val c = check(store.read("clusters"), truthMap)
          checks += c.json
          f1s += c.report.f1
          if (!c.ok) fail(s"pass output check: ${c.json}")
          partitionErrors = math.max(partitionErrors, c.report.partitionErrors)
          manifests += Json.obj(Layers.SnapshotStages.map { s =>
            val (rows, ms) = manifest(store, s)
            s -> Json.obj(Seq("rows" -> rows.toString, "elapsed_ms" -> ms.toString))
          })
          val left = Sessions.persistedRdds(spark)
          if (left != 0) fail(s"$left persisted RDDs survived a pass")
        } catch {
          case e: Exception =>
            if (timed) walls += Double.NaN
            fail(s"pass threw ${e.getClass.getName}: ${e.getMessage}")
        }
        last.foreach(Files.delete)
        last = Some(dir)
      }
      if (!keepLast) last.foreach(Files.delete)
      val tag = spark.sparkContext.master
      details += s"$tag.settle_pass_s" -> Json.arr(settleWalls.toSeq)
      details += s"$tag.pass_s" -> Json.arr(walls.toSeq)
      details += s"$tag.checks" -> checks.mkString("[", ",", "]")
      details += s"$tag.manifests" -> manifests.mkString("[", ",", "]")
      (rates.toSeq, walls.toSeq.filterNot(_.isNaN), if (keepLast) last else None)
    }

    val metrics =
      if (!args.trace) {
        val spark = Sessions.start(cores, Partitions, work)
        val rates =
          try level(spark, SettlePasses, timedPasses(args.seconds), keepLast = false)._1
          finally spark.stop()
        Seq(
          Metric("setup_s", Stats.median(setupTimes), "s"),
          Metric("throughput_per_s", Stats.median(rates), "1/s"),
          Metric("quality", Stats.median(f1s.toSeq), "ratio"))
      } else {
        val spark = Sessions.start(cores, Partitions, work)
        val measured = try {
          // untraced, traced, untraced: the traced pass is compared with the
          // mean of its neighbours, which cancels what is left of the JIT's
          // warming trend; one more settle pass than an untraced run takes
          // brings the neighbours closer to the plateau
          val (rates1, walls1, lastDir) = level(spark, SettlePasses + 1, 1, keepLast = true)
          val (store, dir) = freshStore(spark)
          val trace = new Trace(spark.sparkContext)
          attempted += 1
          System.gc()
          val t0 = System.nanoTime()
          val (clusters, domain) = tracedPass(spark, corpus, store, trace)
          val tracedWall = Stats.seconds(t0)
          val spans = trace.finish()
          val (rates2, walls2, _) = level(spark, 0, 1, keepLast = false)
          val rates = rates1 ++ rates2
          val untracedWall = Stats.median(walls1 ++ walls2)
          val truthDf = truthFrame(spark, truthMap)
          val reference = spark.read.parquet(new File(lastDir.get, "clusters/data").getPath)
          val differ = mismatches(clusters, reference)
          if (differ != 0) fail(s"traced chain and resolve disagree on $differ urls")
          val c = check(clusters, truthMap)
          if (!c.ok) fail(s"traced pass output check: ${c.json}")
          details += "traced_check" -> c.json
          details += "traced_wall_s" -> Json.num(tracedWall)
          details += "untraced_median_wall_s" -> Json.num(untracedWall)
          spans.flatMap { case (name, st) =>
            Seq(s"$name.wall_s" -> st.wallS, s"$name.task_s" -> st.taskMs / 1e3,
              s"$name.shuffle_mb" -> st.shuffleMb, s"$name.task_skew" -> st.skew,
              s"$name.jobs" -> st.jobs.toDouble)
          }.toMap ++ Layers.ErStages.collect {
            case (s, ms) if ms.contains("records_out") =>
              s"$s.records_out" -> manifest(store, stageOf(s))._1.toDouble
          } ++ domain ++ counters(spark, store, dir, truthDf) ++ Seq(
            "pipeline.EntityResolution.resolve.docs_per_s" -> Stats.median(rates),
            "pipeline.EntityResolution.resolve.partition_errors" -> c.report.partitionErrors.toDouble,
            "jvm.heap.peak_mb" -> Stats.median(peaks.toSeq),
            "spark.gc_s" -> spans.map(_._2.gcMs).sum / 1e3,
            "trace.overhead_s" -> (tracedWall - untracedWall))
        } finally spark.stop()
        // the single-thread baseline: the same corpus and partitioning at local[1]
        val spark1 = Sessions.start(1, Partitions, work)
        val rates1 = try level(spark1, SettlePasses, 1, keepLast = false)._1 finally spark1.stop()
        val rate4 = measured("pipeline.EntityResolution.resolve.docs_per_s")
        val all = measured ++ Kernels.measure(kernelSample(start)) ++ Seq(
          "pipeline.EntityResolution.resolve.docs_per_s_1c" -> Stats.median(rates1),
          "pipeline.EntityResolution.resolve.scaling_efficiency" -> rate4 / Stats.median(rates1) / cores)
        val wanted = Layers.all.map(_._1).toSet
        Layers.metrics(all.filter { case (k, _) => wanted(k) })
      }
    heap.close()
    details += "partition_errors_max" -> partitionErrors.toString
    details += "failures" -> failures.map(Json.str).mkString("[", ",", "]")
    Result(failed == 0, attempted, failed, metrics, details.toSeq)
  }

  private def stageOf(span: String): String =
    Layers.SnapshotStages(Layers.ErStages.indexWhere(_._1 == span))
}
