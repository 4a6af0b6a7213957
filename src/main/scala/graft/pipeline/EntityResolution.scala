package graft.pipeline

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.HtmlExtract
import graft.model.{Edge, WebPage}
import graft.operators.{Blocking, ConnectedComponents, PairScoring}
import graft.operators.Blocking.ExtractedDoc
import graft.sources.{SnapshotStore, WebPagesGen}

/** The end-to-end record-linkage pipeline (north rule), composed ONCE as a
  * chain of stages:
  *
  *   webpages → extract (byte-identical text per url) → features
  *   (normalize + TF-IDF + MinHash) → blocking keys → candidate pairs
  *   (stop-block cap + pair-hash repartition) → batched pairwise scoring →
  *   duplicate edges → connected components → cluster assignments
  *   (url, id, cluster).
  *
  * The operators own the stage logic; where each stage's output lives is
  * the [[Materialization]] policy a run picks:
  *  - [[Snapshot]] commits every stage through `SnapshotStore.getOrCreate`
  *    (per-partition lineage rows + counters), so a run is resumable:
  *    rerunning with the same store replays committed stages and
  *    recomputes only uncommitted ones. The block-size histogram is
  *    persisted while the pairs commit and the hot-block counter (forced
  *    after the commit) share it, then released.
  *  - [[InMemory]] keeps nothing durable. It persists only the stages read
  *    more than once — `extracted` (read twice by features) and `features`
  *    (read by five plan subtrees) — and releases them and the last
  *    connected-components round once the caller's action returns.
  *
  * Both policies skip CC's defensive edge `distinct`: scored edges are
  * unique (src, dst) by construction (candidate pairs are de-duplicated and
  * scoring is 1:1).
  *
  * At the sizes the catalog and the benchmark run, a pass is mostly fixed
  * per-stage cost, so the chain keeps its job count down: a snapshot
  * commit is the write job plus driver-side metadata (the reread takes the
  * writer's schema, the manifest reads footers), and CC is two small jobs
  * plus union-find on the driver while the duplicate edges number at most
  * 2^20 (its large-star/small-star rounds run only above that). One
  * resolve pass over the 60-cluster test corpus is 21 jobs
  * (SnapshotStoreSpec). Folding `blocks` into the `pairs` commit was
  * measured and rejected: the pairs job then computes the block entries
  * twice (7.28 s against 6.24 s per pass).
  */
object EntityResolution {

  /** Pairwise clustering quality over every pair of truth urls: tp when
    * both share a true and a predicted cluster, fp only a predicted one (an
    * over-merge), fn only a true one (a split, or a `missing` url, which
    * is a predicted singleton). `extra` urls (assigned, not in the truth)
    * are in no pair. `partitionErrors`: true clusters not reproduced
    * exactly; `largestCluster`: largest predicted cluster. */
  final case class Quality(
      tp: Long, fp: Long, fn: Long, precision: Double, recall: Double, f1: Double,
      partitionErrors: Long, largestCluster: Long, missing: Long, extra: Long)

  /** Where the chain's stage outputs live. */
  sealed trait Materialization
  /** Every stage is a resumable snapshot in `store`. */
  final case class Snapshot(store: SnapshotStore) extends Materialization
  /** Shared stages are persisted for one consuming action, then released. */
  case object InMemory extends Materialization

  /** Extraction stage: recompute text from html (the invariant surface) and
    * keep (id, url, title, text, lang). Map-only; no shuffle. */
  def extract(spark: SparkSession, pages: Dataset[WebPage]): Dataset[ExtractedDoc] = {
    import spark.implicits._
    pages.map { p =>
      val html = new String(p.html, java.nio.charset.StandardCharsets.UTF_8)
      ExtractedDoc(
        id = Blocking.docId(p.url),
        url = p.url,
        title = HtmlExtract.extractTitle(html),
        text = HtmlExtract.extractText(html),
        lang = p.lang)
    }
  }

  /** Run the stage chain over `pages` under `policy` and hand the cluster
    * assignment (url, id, cluster) to `consume`. Every storage block the
    * chain holds is released (blocking) once `consume` returns or throws,
    * so repeated runs in one session leave no persisted RDD behind. */
  def run[T](spark: SparkSession, pages: Dataset[WebPage], policy: Materialization)(
      consume: DataFrame => T): T = {
    import spark.implicits._
    val committing = policy.isInstanceOf[Snapshot]
    val held = ArrayBuffer.empty[() => Unit]
    def stage(name: String, shared: Boolean = false)(compute: => DataFrame): DataFrame =
      policy match {
        case Snapshot(store) => store.getOrCreate(name)(compute)
        case InMemory if shared =>
          val df = compute.persist(StorageLevel.MEMORY_AND_DISK)
          held += (() => { df.unpersist(blocking = true); () })
          df
        case InMemory => compute
      }
    try {
      val extracted = stage("extracted", shared = true)(
        extract(spark, pages).toDF()).as[ExtractedDoc]
      val feats = stage("features", shared = true)(
        Blocking.features(spark, extracted).toDF()).as[Blocking.DocFeatures]
      val blocks = stage("blocks")(
        Blocking.blockEntries(spark, feats).toDF()).as[Blocking.BlockEntry]
      var gen: Option[Blocking.CandidatePairGen] = None
      val pairs = stage("pairs") {
        val g = Blocking.candidatePairs(spark, blocks, persistSizes = committing)
        gen = Some(g)
        held += g.release
        g.pairs.toDF()
      }.as[Blocking.CandidatePair]
      // forced after the pairs commit, so the persisted histogram serves
      // both the pair join and the counter; released right after
      if (committing) gen.foreach { g =>
        val hot = g.hotBlocks()
        if (hot > 0) System.err.println(s"[graft] dropped $hot hot blocks over cap")
        g.release()
      }
      val scored = stage("scored")(PairScoring.score(spark, pairs, feats).toDF())
      val edges = scored.where(col("isDuplicate"))
        .select(col("src"), col("dst")).as[Edge]
      val clusters = stage("clusters") {
        val (assigned, release) = ConnectedComponents.assignManaged(
          spark, edges, feats.select(col("id")), dedupEdges = false)
        held += release
        feats.select(col("id"), col("url"))
          .join(assigned, "id")
          .select(col("url"), col("id"), col("comp").as("cluster"))
      }
      consume(clusters)
    } finally held.reverseIterator.foreach(_())
  }

  /** Run all stages against an existing webpages table, committing each to
    * `store`. Returns the committed cluster assignment table (url, id,
    * cluster). */
  def resolve(spark: SparkSession, store: SnapshotStore, pages: Dataset[WebPage]): DataFrame =
    run(spark, pages, Snapshot(store))(identity)

  /** [[Quality]] of `assignments` (url, cluster) against `truth` (url,
    * truth), each url at most once a side: one Spark aggregate over the
    * (true, predicted) contingency cells. */
  def quality(assignments: DataFrame, truth: DataFrame): Quality = {
    // a missing url's predicted cluster is its own (null, url) singleton
    val pred = struct(col("cluster"), when(col("cluster").isNull, col("url")))
    val cells = truth.select("url", "truth")
      .join(assignments.select("url", "cluster"), Seq("url"), "full_outer")
      .groupBy(col("truth"), pred.as("pred"))
      .agg(count(lit(1)).as("n"), count(when(col("cluster").isNull, 1)).as("missing"))
    val known = col("truth").isNotNull
    val n = col("n")
    // Σ n·(size-1) over a cluster's cells is twice its pair count
    val sized = cells
      .withColumn("tsize", sum(n).over(Window.partitionBy("truth")))
      .withColumn("psize", sum(when(known, n)).over(Window.partitionBy("pred")))
    def total(c: Column) = coalesce(sum(c), lit(0L))
    val r = sized.agg(
      total(when(known, n * (n - 1))),
      total(when(known, n * (col("tsize") - 1))),
      total(when(known, n * (col("psize") - 1))),
      // a true cluster is exact iff one cell holds all of it and nothing else
      countDistinct(when(known && (n =!= col("tsize") || n =!= col("psize")), col("truth"))),
      coalesce(max(when(known, col("psize"))), lit(0L)),
      total(col("missing")),
      total(when(!known, n))
    ).head()
    val tp = r.getLong(0) / 2
    val fn = r.getLong(1) / 2 - tp
    val fp = r.getLong(2) / 2 - tp
    Quality(tp, fp, fn,
      precision = if (tp + fp == 0) 1.0 else tp.toDouble / (tp + fp),
      recall = if (tp + fn == 0) 1.0 else tp.toDouble / (tp + fn),
      f1 = if (tp + fp + fn == 0) 1.0 else 2.0 * tp / (2.0 * tp + fp + fn),
      partitionErrors = r.getLong(3), largestCluster = r.getLong(4),
      missing = r.getLong(5), extra = r.getLong(6))
  }

  /** One in-memory pass over an EXISTING webpages table — the north rule's
    * unit of work (read table → extract → features → block → pair → score →
    * cluster) and the scaling bench's measured unit: corpus generation is
    * benchmark scaffolding, not pipeline work, so it happens once outside
    * the timed region. Returns (docs clustered, seconds). */
  def runOnTable(spark: SparkSession, path: String): (Long, Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val docs = run(spark, spark.read.parquet(path).as[WebPage], InMemory)(_.count())
    (docs, (System.nanoTime() - t0) / 1e9)
  }

  /** Generate the corpus, run the pipeline, evaluate its [[quality]]
    * against the generator's truth, return a one-line JSON report.
    * `nClusters` clusters ≈ 2.05 docs each. */
  def runAndReport(spark: SparkSession, outDir: String, nClusters: Long): String = {
    import spark.implicits._
    val store = new SnapshotStore(spark, outDir)
    val t0 = System.nanoTime()
    val pages = store.getOrCreate("webpages")(
      WebPagesGen.webpages(spark, nClusters).toDF()).as[WebPage]
    val assignments = resolve(spark, store, pages)
    val nDocs = assignments.count()
    val q = quality(assignments, WebPagesGen.truth(spark, nClusters))
    val elapsed = (System.nanoTime() - t0) / 1e9
    val docsPerSec = nDocs / elapsed
    f"""{"docs":$nDocs,"clusters":$nClusters,"tp":${q.tp},"fp":${q.fp},"fn":${q.fn},""" +
      f""""precision":${q.precision}%.6f,"recall":${q.recall}%.6f,"f1":${q.f1}%.6f,""" +
      f""""partitionErrors":${q.partitionErrors},"largestCluster":${q.largestCluster},""" +
      f""""missing":${q.missing},"extra":${q.extra},""" +
      f""""elapsedSec":$elapsed%.3f,"docsPerSec":$docsPerSec%.1f}"""
  }
}
