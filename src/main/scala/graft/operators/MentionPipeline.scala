package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}

import graft.model.{Page, ProcessedPage}
import graft.util.Materialize

/** Dataset-level wrappers around the pure per-page processing: the
  * reference's batch loop becomes partition parallelism, its point lookups
  * become joins (SURVEY §3.1).
  */
object MentionPipeline {

  /** Process a batch of pages (validity filter + per-page extraction). The
    * redirects lookup ships as a broadcast map — the Spark-native form of
    * the reference's driver-side dict (/root/reference/src/lookups.py:27-34);
    * at web scale this becomes a real join (SURVEY §1.3). */
  def processPages(
      spark: SparkSession,
      pages: Dataset[Page],
      redirects: Map[String, String],
      isSeedPage: Boolean = false): Dataset[ProcessedPage] = {
    import spark.implicits._
    val redirectsB = spark.sparkContext.broadcast(redirects)
    pages
      .filter((p: Page) => PageProcessing.isValidPage(p))
      .map((p: Page) =>
        PageProcessing.processPage(redirectsB.value.get _, p, isSeedPage))
  }

  /** [[processPages]] fed by a [[RedirectLookup.build]] table instead of a
    * caller-supplied Map — the end-to-end form of the reference's
    * get_redirects_lookup() → process flow
    * (/root/reference/src/scripts/create_entity_to_context.py:38): the
    * lookup is built distributed (J1/P10/P11), then collected for the
    * per-page broadcast path. Collect is appropriate at Wikipedia-redirect
    * scale; for corpus-sized lookups use the exploded mention model +
    * [[RedirectLookup.resolveEntities]] join instead. */
  def processPagesWithLookup(
      spark: SparkSession,
      pages: Dataset[Page],
      redirectLookup: org.apache.spark.sql.DataFrame,
      isSeedPage: Boolean = false): Dataset[ProcessedPage] =
    processPages(spark, pages,
      RedirectLookup.collectLookup(redirectLookup), isSeedPage)

  /** X1 BFS link-graph expansion
    * (/root/reference/src/process_pages.py:50-70): seeds -> outlinks ->
    * fetch-unvisited -> process, `depth` layers. The frontier set-minus is
    * a distributed except; page fetch is a semi join against the corpus
    * (S3: batch point-lookups become a join). Each layer checkpoints its
    * frontier, processed and visited sets to keep the plan O(1) in depth,
    * and releases the layer before it; only the returned processed set
    * stays held. */
  def processSeedPages(
      spark: SparkSession,
      corpus: Dataset[Page],
      redirects: Map[String, String],
      seeds: Dataset[Page],
      depth: Int): Dataset[ProcessedPage] = {
    import spark.implicits._
    var processed = Materialize.checkpoint(processPages(spark, seeds, redirects, isSeedPage = true))
    var latest = processed
    var visited = Materialize.checkpoint(processed.value.map(_.documentInfo.title).distinct())
    for (_ <- 0 until depth) {
      val referenced = latest.value.flatMap(_.entities).distinct()
      val toFetch = referenced.except(visited.value)
      val fetched = corpus
        .join(toFetch, corpus("title") === toFetch("value"), "left_semi")
        .as[Page]
      val next = Materialize.checkpoint(processPages(spark, fetched, redirects))
      val grown = Materialize.checkpoint(processed.value.union(next.value))
      val seen = Materialize.checkpoint(visited.value.union(referenced).distinct())
      Seq(latest, processed, visited).foreach(_.release())
      latest = next
      processed = grown
      visited = seen
    }
    Seq(latest, visited).filter(_ ne processed).foreach(_.release())
    processed.value
  }
}
