package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HtmlExtract
import graft.model.{LabeledPair, WebPage}
import graft.pipeline.EntityResolution
import graft.sources.{SnapshotStore, WebPagesGen}

/** End-to-end entity-resolution pipeline: pairwise F1 target, extraction
  * determinism, and checkpoint resume (SURVEY §5 items 3-4, 6). */
class EntityResolutionSpec extends AnyFunSuite with SparkSessionTestWrapper {

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("extraction is deterministic and byte-identical per url") {
    val docs = (0L until 30L).flatMap(c =>
      (0 until WebPagesGen.clusterSize(c)).map(v => WebPagesGen.genPage(c, v)))
    docs.foreach { d =>
      // generator text column == engine extraction (the invariant)
      assert(d.page.text == HtmlExtract.extractText(d.page.html))
      // pure function: re-extraction identical
      assert(HtmlExtract.extractText(d.page.html) == HtmlExtract.extractText(d.page.html))
    }
    // urls unique across the corpus
    assert(docs.map(_.page.url).distinct.size == docs.size)
    // no boilerplate tags survive extraction
    assert(docs.forall(d => !d.page.text.contains("<") && !d.page.text.contains("var t=1")))
  }

  test("variants share the blocking key; title collisions are planted") {
    val collisions = (1L until 200L).filter(WebPagesGen.hasTitleCollision)
    assert(collisions.nonEmpty)
    collisions.foreach { c =>
      assert(WebPagesGen.blockKeyOf(c) == WebPagesGen.blockKeyOf(c - 1))
    }
  }

  test("pipeline reaches pairwise F1 >= 0.99 on the labeled corpus") {
    import spark.implicits._
    val out = tmpDir("er-f1-")
    val store = new SnapshotStore(spark, out)
    val n = 300L
    val pages = store.getOrCreate("webpages")(
      WebPagesGen.webpages(spark, n).toDF()).as[WebPage]
    val labeled = WebPagesGen.labeledPairs(spark, n)
    val assignments = EntityResolution.resolve(spark, store, pages)
    val report = EntityResolution.pairwiseF1(spark, assignments, labeled)
    assert(report.tp + report.fn > 200, s"labeled positives too few: $report")
    assert(report.f1 >= 0.99, s"F1 below target: $report")
  }

  test("resume: second run replays committed snapshots byte-identically") {
    import spark.implicits._
    val out = tmpDir("er-resume-")
    val store = new SnapshotStore(spark, out)
    val n = 60L
    val pages = store.getOrCreate("webpages")(
      WebPagesGen.webpages(spark, n).toDF()).as[WebPage]
    val first = EntityResolution.resolve(spark, store, pages)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // all stages committed
    Seq("webpages", "extracted", "features", "blocks", "pairs", "scored", "clusters")
      .foreach(s => assert(store.exists(s), s"stage $s not committed"))
    // simulate a kill after 'features': drop later snapshots, re-resolve
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    Seq("blocks", "pairs", "scored", "clusters").foreach { s =>
      fs.delete(new org.apache.hadoop.fs.Path(out, s), true)
    }
    val second = EntityResolution.resolve(spark, store, pages)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(first.toSeq == second.toSeq)
    // manifest carries counters + per-partition lineage rows
    val manifest = store.manifest("clusters").get
    assert(manifest.contains("\"rows\":") && manifest.contains("\"partitions\":"))
  }

  test("repeated passes leave zero surviving storage blocks and stay flat") {
    import spark.implicits._
    // VERDICT r02 #2/#6: the degrading driver-bench passes (32→131 s
    // monotone within one session) match a cached-block leak shape. This
    // pins the invariant: a full runOnTable pass releases EVERY block it
    // created (extracted/features persists, CC round checkpoints, final CC
    // lineage) — deterministically, not via GC.
    val corpus = tmpDir("er-flat-") + "/webpages"
    graft.sources.WebPagesGen.webpages(spark, 250L).toDF()
      .write.mode("overwrite").parquet(corpus)
    val preexisting = spark.sparkContext.getPersistentRDDs.keySet
    val times = (1 to 4).map { i =>
      val (docs, sec) = EntityResolution.runOnTable(spark, corpus)
      assert(docs > 0)
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- preexisting
      assert(leaked.isEmpty, s"pass $i leaked persisted RDDs: $leaked")
      sec
    }
    // soft regression net for within-session aging: the r02 leak showed a
    // monotone 4x slope over 4 passes; generous 3x min-vs-min bound
    // tolerates co-tenant bursts (the zero-blocks assertion above is the
    // deterministic guard) while still catching systematic degradation
    assert(times.drop(2).min <= 3.0 * times.take(2).min,
      s"passes degrade within one session: $times")
  }

  test("labeled pairs include shared-key negatives") {
    import spark.implicits._
    val labeled: Array[LabeledPair] =
      WebPagesGen.labeledPairs(spark, 300L).collect()
    assert(labeled.exists(!_.is_duplicate))
    assert(labeled.exists(_.is_duplicate))
    assert(labeled.forall(_.block_key.nonEmpty))
  }
}
