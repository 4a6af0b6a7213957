package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.functions.HtmlExtract
import graft.model.WebPage
import graft.pipeline.EntityResolution
import graft.sources.{SnapshotStore, WebPagesGen}

/** End-to-end entity-resolution pipeline: pairwise F1 target over all
  * pairs (and the quality report that measures it), extraction
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
    val assignments = EntityResolution.resolve(spark, store, pages)
    val q = EntityResolution.quality(assignments, WebPagesGen.truth(spark, n))
    assert(q.tp + q.fn > 200, s"true pairs too few: $q")
    assert(q.f1 >= 0.99, s"F1 below target: $q")
    assert(q.missing == 0 && q.extra == 0, s"assignments are not a partition of the corpus: $q")
    assert(q.partitionErrors == 0, s"planted clusters not reproduced exactly: $q")
  }

  test("quality counts every pair: over-merges, dropped and extra urls") {
    import spark.implicits._
    val n = 60L
    val truth = WebPagesGen.truth(spark, n)
    val rows = truth.as[(String, Long)].collect().toSeq
    def q(assigned: Seq[(String, Long)]) =
      EntityResolution.quality(assigned.toDF("url", "cluster"), truth)
    // brute force over every pair of truth urls; a url missing from the
    // assignment is a singleton of its own
    def oracle(assigned: Seq[(String, Long)]): (Long, Long, Long) = {
      val predOf = assigned.toMap
      val urls = rows.toIndexedSeq
      var tp, fp, fn = 0L
      for (i <- urls.indices; j <- (i + 1) until urls.size) {
        val sameTrue = urls(i)._2 == urls(j)._2
        val samePred = (predOf.get(urls(i)._1), predOf.get(urls(j)._1)) match {
          case (Some(a), Some(b)) => a == b
          case _ => false
        }
        if (sameTrue && samePred) tp += 1
        else if (samePred) fp += 1
        else if (sameTrue) fn += 1
      }
      (tp, fp, fn)
    }
    val exact = q(rows)
    assert(exact.f1 == 1.0 && exact.partitionErrors == 0 && exact.missing == 0, exact)
    val sizes = rows.groupBy(_._2).view.mapValues(_.size).toMap
    assert(sizes.size == n && exact.largestCluster == sizes.values.max, exact)
    // merge two non-adjacent planted clusters (never title-collision
    // neighbours, which share a blocking key)
    val multi = sizes.keys.toSeq.sorted.filter(sizes(_) >= 2)
    val a = multi.head
    val b = multi.find(_ > a + 1).get
    val merged = rows.map { case (u, c) => (u, if (c == b) a else c) }
    val mq = q(merged)
    assert(mq.f1 < 1.0 && mq.fp == sizes(a).toLong * sizes(b) && mq.fn == 0, mq)
    assert(mq.partitionErrors == 2 && mq.largestCluster >= sizes(a) + sizes(b), mq)
    // drop one url of a multi-document cluster
    val dropped = rows.filterNot(_._1 == rows.find(_._2 == a).get._1)
    val dq = q(dropped)
    assert(dq.f1 < 1.0 && dq.fn == sizes(a) - 1L && dq.fp == 0 && dq.missing == 1, dq)
    assert(dq.partitionErrors == 1, dq)
    // an assigned url absent from the truth is counted, in no pair
    val xq = q(rows :+ ("http://not-generated.example/x" -> a))
    assert(xq.extra == 1 && xq.f1 == 1.0, xq)
    // seeded random assignments agree with the brute-force pair count
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { _ =>
      val assigned = rows.filter(_ => rnd.nextDouble() > 0.05)
        .map { case (u, c) => (u, if (rnd.nextDouble() < 0.2) rnd.nextInt(8).toLong else c) }
      val r = q(assigned)
      assert((r.tp, r.fp, r.fn) == oracle(assigned), r)
      assert(r.missing == rows.size - assigned.size, r)
    }
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
}
